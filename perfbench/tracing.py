"""Tracing from outside the engine: spans around calls into each layer's
public functions, streaming progress from a StreamingQueryListener, and
Spark's own counters from an event log.

Spans are kept in memory and written with the run's artifact. A span's
parent is the innermost open span on its own thread; a span opened on a
thread with none (a foreachBatch body runs on a py4j callback thread)
takes the innermost open span of the thread that made the tracer, which
is blocked waiting on that stream. Spans of one request share a trace
id: one micro-batch or one query execution.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.get_ident()
        self._stacks: dict[int, list[dict]] = {}
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
            with self._lock:
                self._stacks[threading.get_ident()] = st
        return st

    @contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and threading.get_ident() != self._main:
            main = self._stacks.get(self._main) or []
            parent = main[-1] if main else None
        rec = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else None),
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, modules: list, func, name: str) -> None:
        """Replace every module attribute bound to `func` with a spanned
        call-through. Callers that look the name up at call time (the
        engine imports functions by name into many modules) see the
        wrapper; restore() puts the original back."""
        tracer = self

        @functools.wraps(func)
        def spanned(*args, **kwargs):
            with tracer.span(name):
                return func(*args, **kwargs)

        for mod in modules:
            for attr, val in list(vars(mod).items()):
                if val is func:
                    setattr(mod, attr, spanned)
                    self._patched.append((mod, attr, func))

    def wrap_foreach_batch(self, writer_cls: type, name: str) -> None:
        """Span every foreachBatch body, tagged with its batch id."""
        orig = writer_cls.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            @functools.wraps(func)
            def body(df, batch_id):
                with tracer.span(name, trace=f"batch:{id(func)}:{batch_id}",
                                 batch_id=batch_id):
                    return func(df, batch_id)

            return orig(writer, body)

        writer_cls.foreachBatch = foreach_batch
        self._patched.append((writer_cls, "foreachBatch", orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def make_progress_listener(sink: list[dict]):
    """A StreamingQueryListener that appends every progress record (as
    the dict of its JSON) and every query start time to `sink`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            sink.append({"event": "started", "id": str(event.id),
                         "timestamp": event.timestamp})

        def onQueryProgress(self, event):
            rec = json.loads(event.progress.json)
            rec["event"] = "progress"
            sink.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and task metrics from every finished event log in
    `log_dir` (one per SparkContext), times in epoch seconds."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    tasks: list[dict] = []
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not p.endswith(".inprogress")]
    for path in sorted(paths):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    jobs[key] = {"submit": ev["Submission Time"] / 1e3,
                                 "stages": ev.get("Stage IDs", []), "tasks": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[(app, sid)] = key
                elif kind == "SparkListenerJobEnd":
                    key = (app, ev["Job ID"])
                    if key in jobs:
                        jobs[key]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr, sw = m.get("Shuffle Read Metrics") or {}, m.get("Shuffle Write Metrics") or {}
                    tasks.append({
                        "job": stage_job.get((app, ev["Stage ID"])),
                        "stage": (app, ev["Stage ID"], ev.get("Stage Attempt ID", 0)),
                        "launch": info["Launch Time"] / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    })
    return {"jobs": jobs, "tasks": tasks}


def spark_counters(log: dict, start: float, end: float) -> dict:
    """Totals for the jobs submitted in [start, end]."""
    keys = {k for k, j in log["jobs"].items() if start <= j["submit"] <= end}
    ts = [t for t in log["tasks"] if t["job"] in keys]
    return {
        "jobs": len(keys),
        "stages": len({t["stage"] for t in ts}),
        "tasks": len(ts),
        "executor_run_s": sum(t["run_s"] for t in ts),
        "gc_s": sum(t["gc_s"] for t in ts),
        "spill_bytes": sum(t["spill"] for t in ts),
        "shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
    }
