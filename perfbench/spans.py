"""Tracing for the traced run: spans, the Spark event log, the phase profile.

Spans are recorded around the benchmark's calls into each layer (name,
start, end, parent, run id), kept in memory and written once when the run
ends.  Spark's own per-task counters come from its JSON event log, and
tasks are attributed to a measured step (epoch or query pass) by the time
window the step ran in.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time
from contextlib import contextmanager

from perfbench.metrics import median


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,  # index in spans
            "run_id": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


# ----------------------------------------------------------- event log
def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that make Spark write a plain JSON-lines log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    events: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_counters(events: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Per window (unix seconds): jobs, stages, tasks, shuffle and spill
    volume, task CPU and the median per-stage task skew (slowest task's
    run time over the stage median, stages with two or more tasks)."""
    win_ms = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def which(t_ms) -> int | None:
        for i, (a, b) in enumerate(win_ms):
            if t_ms is not None and a <= t_ms <= b:
                return i
        return None

    out = [
        {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
         "spill_mb": 0.0, "task_cpu_s": 0.0, "_runs": {}}
        for _ in windows
    ]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            i = which(ev.get("Submission Time"))
            if i is not None:
                out[i]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            i = which(ev["Stage Info"].get("Submission Time"))
            if i is not None:
                out[i]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            i = which(ev["Task Info"].get("Launch Time"))
            m = ev.get("Task Metrics") or {}
            if i is None or not m:
                continue
            w = out[i]
            w["tasks"] += 1
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            w["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
            w["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            w["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            w["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            w["_runs"].setdefault(ev["Stage ID"], []).append(m.get("Executor Run Time", 0))
    for w in out:
        skews = [
            max(runs) / max(median(runs), 1.0)
            for runs in w.pop("_runs").values()
            if len(runs) >= 2
        ]
        w["task_skew"] = median(skews) if skews else 1.0
    return out


# ------------------------------------------------------- phase profile
@contextmanager
def captured_phase_profile(sink: list):
    """Run the enclosed ``CrawlEngine.run_epoch`` with its phase profile
    on (``SPARK_GRAFT_EPOCH_TIMING``), capture the profile it prints to
    stderr into ``sink`` and pass every other stderr line through."""
    prev = os.environ.get("SPARK_GRAFT_EPOCH_TIMING")
    os.environ["SPARK_GRAFT_EPOCH_TIMING"] = "1"
    buf = io.StringIO()
    try:
        with contextlib.redirect_stderr(buf):
            yield
    finally:
        if prev is None:
            del os.environ["SPARK_GRAFT_EPOCH_TIMING"]
        else:
            os.environ["SPARK_GRAFT_EPOCH_TIMING"] = prev
        for line in buf.getvalue().splitlines():
            if '"phases_s"' in line:
                sink.append(json.loads(line)["phases_s"])
            else:
                print(line, file=sys.stderr)
