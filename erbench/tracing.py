"""Spans, counters and Spark event-log attribution for the traced run.

The traced run records a span around every call into a layer, tags the
Spark jobs submitted from the calling thread with ``setJobGroup(<layer>)``
and, after the session stops, reads the event log Spark wrote (enabled only
in the traced run) to attribute task-level CPU, GC, shuffle, spill and
Python-worker metrics to layers. Jobs submitted from another thread (the
streaming micro-batch thread) carry the query's own job group; those are
attributed to the innermost span whose interval covers the job's
submission time.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

MB = 1024.0 * 1024.0

# Per-task accumulables of Spark's Python SQL metrics (PythonSQLMetrics).
# Only the run time is per task (milliseconds); the worker start and
# initialize timings of a reused worker are not, so they are left out.
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


@dataclass
class Span:
    layer: str
    parent: str | None
    start: float  # epoch seconds
    end: float
    wall: float


class Tracer:
    """Spans and counters recorded in memory; read out after the run."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def inside(self, layer: str) -> bool:
        return layer in self._stack()

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[name] += value

    @contextmanager
    def span(self, layer: str, tag_jobs: bool = True):
        """Time a layer call. ``tag_jobs`` sets the Spark job group of the
        calling thread for the duration of the call (and restores the
        previous group); leave it off on threads Spark itself owns."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        prev = None
        if tag_jobs and self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(layer, layer)
        stack.append(layer)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            stack.pop()
            if tag_jobs and self.sc is not None:
                if prev is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev, prev)
            with self._lock:
                self.spans.append(Span(layer, parent, start, start + wall, wall))

    def wall(self, layer: str) -> float:
        return sum(s.wall for s in self.spans if s.layer == layer)

    def calls(self, layer: str) -> int:
        return sum(1 for s in self.spans if s.layer == layer)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


@contextmanager
def wrapped_methods(tracer: Tracer, cls, methods, layer: str, bytes_of=None, tag_jobs=True):
    """Wrap ``cls.<method>`` for every name in ``methods`` with a ``layer``
    span. Only the outermost call on a thread counts (``run`` calls
    ``has``/``write`` internally). ``bytes_of(self)`` names a directory
    whose growth over the call is counted as bytes written."""
    originals = {m: getattr(cls, m) for m in methods}

    def make(orig):
        def wrapper(self, *args, **kwargs):
            if tracer.inside(layer):
                return orig(self, *args, **kwargs)
            path = bytes_of(self) if bytes_of else None
            before = dir_bytes(path) if path else 0
            with tracer.span(layer, tag_jobs=tag_jobs):
                out = orig(self, *args, **kwargs)
            if path:
                tracer.count(f"{layer}.bytes_written", max(0, dir_bytes(path) - before))
            return out

        return wrapper

    for m, orig in originals.items():
        setattr(cls, m, make(orig))
    try:
        yield
    finally:
        for m, orig in originals.items():
            setattr(cls, m, orig)


# ---------------------------------------------------------------------------
# Event-log attribution
# ---------------------------------------------------------------------------


@dataclass
class LayerTasks:
    jobs: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    python_s: float = 0.0
    python_sent_mb: float = 0.0


def _innermost(spans: list[Span], t: float) -> str | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.wall < best.wall):
            best = s
    return best.layer if best else None


def attribute_event_log(path: str, spans: list[Span], layers: set[str]) -> dict[str, LayerTasks]:
    """Fold the task-end events of one event-log file into per-layer totals.

    A stage belongs to the first job that lists it; a job belongs to its
    job group when that names a layer, else to the innermost span covering
    its submission time.
    """
    out: dict[str, LayerTasks] = defaultdict(LayerTasks)
    stage_layer: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                layer = group if group in layers else _innermost(
                    spans, ev.get("Submission Time", 0) / 1000.0
                )
                if layer is None:
                    continue
                out[layer].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_layer.setdefault(sid, layer)
            elif kind == "SparkListenerTaskEnd":
                layer = stage_layer.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if layer is None or not tm:
                    continue
                acc = out[layer]
                acc.run_s += tm.get("Executor Run Time", 0) / 1e3
                acc.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                acc.gc_s += tm.get("JVM GC Time", 0) / 1e3
                sr = tm.get("Shuffle Read Metrics", {})
                acc.shuffle_read_mb += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                sw = tm.get("Shuffle Write Metrics", {})
                acc.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
                acc.spill_mb += (
                    tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                ) / MB
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name, upd = a.get("Name"), a.get("Update")
                    if upd is None:
                        continue
                    if name == _PY_RUN:
                        acc.python_s += float(upd) / 1e3
                    elif name == _PY_SENT:
                        acc.python_sent_mb += float(upd) / MB
    return out


def event_log_file(log_dir: str) -> str:
    entries = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    return entries[0]
