"""Spans recorded by the benchmark's own wrappers, and Spark's event log.

A span has a name, a start, an end and the span that caused it; spans
of one micro-batch or one query pass share a key. Spans live in memory
and are summarised when the run ends. Nothing here changes what the
program does: wrappers time calls into its public functions and
methods and pass every argument and result through.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Collects spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, key=None, parent=None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "name": name,
            "key": key,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "start": time.time(),
        }
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, key=None, span_id=None, parent=None) -> None:
        """Record a span timed elsewhere (e.g. by Spark's progress events)."""
        if self.enabled:
            self.spans.append(
                {
                    "id": span_id if span_id is not None else next(self._ids),
                    "name": name,
                    "key": key,
                    "parent": parent,
                    "start": start,
                    "end": end,
                }
            )

    def wrap_method(self, obj, attr: str, name: str) -> None:
        """Time every call of ``obj.attr`` (instance-level, so the
        object's own internal calls are timed too)."""
        if not self.enabled or not hasattr(obj, attr):
            return
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, timed)

    @contextlib.contextmanager
    def patch_function(self, module, attr: str, name: str, result_method: str | None = None):
        """Time calls of a module-level function for the duration of the
        block. With ``result_method``, the span also covers that method
        on the returned object (a lazy DataFrame's ``collect``)."""
        if not self.enabled:
            yield
            return
        fn = getattr(module, attr)
        tracer = self

        if result_method is None:

            def timed(*args, **kwargs):
                with tracer.span(name):
                    return fn(*args, **kwargs)

        else:

            class Timed:
                def __init__(self, inner, start):
                    self._inner, self._start = inner, start

                def __getattr__(self, a):
                    return getattr(self._inner, a)

            def run_result(self, *args, **kwargs):
                with tracer.span(name) as rec:
                    rec["start"] = self._start
                    return getattr(self._inner, result_method)(*args, **kwargs)

            setattr(Timed, result_method, run_result)

            def timed(*args, **kwargs):
                return Timed(fn(*args, **kwargs), time.time())

        setattr(module, attr, timed)
        try:
            yield
        finally:
            setattr(module, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Self time per layer (ms): each span's duration minus the part
        of its interval that its child spans cover, summed by the layer
        prefix of the span name."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
            )
            out[s["name"].split(".", 1)[0]] += (s["end"] - s["start"] - covered) * 1000.0
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000.0 for s in self.spans if s["name"] == name]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Spark work per job key, from an uncompressed event log.

    A job's key is ``batch:<query id>:<micro-batch id>`` for a streaming
    job, else its job group. Each executed stage is charged
    to the lowest-numbered job that lists it.
    """
    job_key: dict[int, str] = {}
    stage_jobs: dict[int, list[int]] = defaultdict(list)
    completed: set[int] = set()
    per_stage: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    ]
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    batch = props.get("streaming.sql.batchId")
                    query = props.get("sql.streaming.queryId")
                    key = f"batch:{query}:{batch}" if batch is not None else props.get("spark.jobGroup.id", "other")
                    job_key[ev["Job ID"]] = key
                    for sid in ev.get("Stage IDs", []):
                        stage_jobs[sid].append(ev["Job ID"])
                elif kind == "SparkListenerStageCompleted":
                    completed.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = per_stage[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["executor_run_ms"] += m.get("Executor Run Time", 0)
                    st["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for jid, key in job_key.items():
        out[key]["jobs"] += 1
    for sid in completed:
        jobs = [j for j in stage_jobs.get(sid, []) if j in job_key]
        if not jobs:
            continue
        agg = out[job_key[min(jobs)]]
        agg["stages"] += 1
        for k, v in per_stage[sid].items():
            agg[k] += v
    return {k: dict(v) for k, v in out.items()}
