"""Spans recorded around the benchmark's calls into the engine, and the
per-layer figures read from a plain-JSON Spark event log.

Spark work is attributed to spans by time window: the client runs one
operation at a time, so every job, stage and task that starts inside a
span's window belongs to it, whichever thread launched it."""

from __future__ import annotations

import bisect
import json
import os
import statistics
import time
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, **tags):
        wall, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self.spans.append({
                "name": name, "t0": wall * 1000, "t1": (wall + dur) * 1000,
                "dur": dur, **tags,
            })


def _ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


class EventLog:
    """Jobs, stages, tasks and streaming progress from every event log
    file under a directory, each keyed by its start time."""

    def __init__(self, event_dir: str):
        jobs, stages, tasks, progress = [], [], [], []
        for fname in sorted(os.listdir(event_dir)):
            with open(os.path.join(event_dir, fname)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        jobs.append((ev["Submission Time"], 1))
                    elif kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        stages.append((info.get("Submission Time", 0), 1))
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append((ev["Task Info"]["Launch Time"], _task_row(ev)))
                    elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                        p = ev["progress"]
                        progress.append((_ms(p["timestamp"]), {
                            "streaming.batches": 1,
                            "streaming.input_rows": sum(
                                src.get("numInputRows", 0) for src in p.get("sources", [])),
                            "streaming.batch_ms": p.get("durationMs", {}).get(
                                "triggerExecution", 0),
                        }))
        self.series = {"jobs": jobs, "stages": stages, "tasks": tasks, "progress": progress}
        for s in self.series.values():
            s.sort(key=lambda x: x[0])
        self.keys = {k: [t for t, _ in s] for k, s in self.series.items()}

    def _in(self, kind: str, t0: float, t1: float):
        lo = bisect.bisect_left(self.keys[kind], t0)
        hi = bisect.bisect_left(self.keys[kind], t1)
        return [v for _, v in self.series[kind][lo:hi]]

    def window(self, t0: float, t1: float) -> dict[str, float]:
        out = {
            "jobs": len(self._in("jobs", t0, t1)),
            "stages": len(self._in("stages", t0, t1)),
        }
        rows = self._in("tasks", t0, t1)
        out["tasks"] = len(rows)
        for row in rows:
            for k, v in row.items():
                out[k] = out.get(k, 0.0) + v
        for row in self._in("progress", t0, t1):
            for k, v in row.items():
                out[k] = out.get(k, 0.0) + v
        return out


def _task_row(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    row = {
        "exec.executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "exec.executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "exec.gc_s": m.get("JVM GC Time", 0) / 1e3,
        "io.scan_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
        "io.scan_rows": m.get("Input Metrics", {}).get("Records Read", 0),
        "io.write_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
        "shuffle.read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle.fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "shuffle.write_bytes": m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        "spill.bytes": m.get("Disk Bytes Spilled", 0),
    }
    for acc in ev["Task Info"].get("Accumulables", []):
        key = PYTHON_ACCUMULABLES.get(acc.get("Name") or "")
        if key:
            scale = 1e3 if key.endswith("_s") else 1  # timings are in ms
            row[key] = row.get(key, 0) + float(acc.get("Update", 0)) / scale
    return row


# SQL metrics of the Python-worker operators (mapInPandas, Arrow UDFs)
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "python.eval_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0
