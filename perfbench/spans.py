"""Tracing for the traced run: spans recorded by the benchmark around its
calls into the program, a streaming progress listener, and the parse of
Spark's event log. Spans stay in memory until the run ends."""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time

from stats import median, self_time


class Tracer:
    """Spans (name, start, end, parent, run id). Disabled, ``span`` is a
    no-op, so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": next(self._ids), "name": name, "run": self.run_id,
               "parent": stack[-1]["id"] if stack else None,
               "start": time.time(), "end": None, **attrs}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, kids.get(s["id"], []))
        return out

def progress_listener(sink: list):
    """A StreamingQueryListener that appends each progress report (as a
    dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _task_metrics(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    im = m.get("Input Metrics") or {}
    return {
        "run_ms": m.get("Executor Run Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "in_bytes": im.get("Bytes Read", 0),
        "in_rows": im.get("Records Read", 0),
    }


def parse_event_log(log_dir: str) -> dict:
    """Sum task metrics from the newest application log in ``log_dir``,
    in total and per job group (stages are attributed to a group through
    the job that submitted them)."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if not apps:
        raise FileNotFoundError(f"no event log in {log_dir}")
    app = max(apps, key=os.path.getmtime)
    # A rolling log (the default) is a directory of events_<n>_* parts.
    parts = (sorted(glob.glob(os.path.join(app, "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
             if os.path.isdir(app) else [app])
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    groups: dict[str, dict] = {}
    for part in parts:
        with open(part) as f:
            events = [json.loads(line) for line in f]
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = grp
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                tm = _task_metrics(ev)
                stage_tasks.setdefault(sid, []).append(tm["run_ms"])
                g = groups.setdefault(stage_group.get(sid, "-"), {"tasks": 0})
                g["tasks"] += 1
                for k, v in tm.items():
                    g[k] = g.get(k, 0) + v
    total: dict = {"tasks": 0}
    for g in groups.values():
        for k, v in g.items():
            total[k] = total.get(k, 0) + v
    slowest = max(stage_tasks.values(), key=sum, default=[])
    med = median(slowest) if slowest else 0
    total["stage_skew_max"] = (max(slowest) / med) if med else 0.0
    return {"total": total, "groups": groups}
