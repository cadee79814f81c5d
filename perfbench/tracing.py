"""Tracing for the per-layer run: in-memory spans, Spark job/stage/task
counts per job tag, streaming progress, and the local event log.

Nothing here is active in an untraced run. Spans are recorded only
around the benchmark's own calls into each engine layer; where a layer
is entered from inside the engine (``catalog.load_table`` from a query
builder, ``operators.merge.upsert_parquet`` from the pipeline) the
function reference is wrapped from this module for the traced run only.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by its
    children (children clipped to the parent; overlapping children are
    merged, so concurrent children are not subtracted twice)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        if s.end is None:
            continue
        covered = 0.0
        cur_lo = cur_hi = None
        ivals = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, [])
            if c.end is not None
        )
        for lo, hi in ivals:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Spans kept in memory and written once by :meth:`dump`. A disabled
    tracer records nothing, so the untraced run pays one attribute test
    per boundary."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        # per thread: foreachBatch sinks call back on a stream thread
        self._local = threading.local()
        self._ids = itertools.count()

    @property
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(
            next(self._ids),
            name,
            time.perf_counter(),
            None,
            self._stack[-1] if self._stack else None,
            self.run_id,
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total seconds and self seconds."""
        st = self_times(self.spans)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.end is None:
                continue
            t = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0})
            t["calls"] += 1
            t["s"] += s.end - s.start
            t["self_s"] += st[s.id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# -- wrapping engine entry points for the traced run ------------------------


def patch_everywhere(package: str, original, wrapper) -> int:
    """Rebind every module-level reference to ``original`` inside the
    imported modules of ``package`` (``from x import f`` copies the
    reference, so patching the defining module alone misses callers)."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == package or name.startswith(package + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def wrap_calls(tracer: Tracer, name: str, fn, on_return=None, on_enter=None):
    """A wrapper recording one span per call of ``fn``; ``on_return``
    sees the call's arguments and result, ``on_enter`` may return a
    token passed on to ``on_return``."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        token = on_enter(*args, **kwargs) if on_enter else None
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if on_return:
            on_return(token, out, *args, **kwargs)
        return out

    return wrapper


class JobTags:
    """Job, stage and task counts for the jobs carrying a tag, read from
    the SparkContext's status tracker (no UI or REST needed)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.st = self.sc._jsc.sc().statusTracker()

    @contextmanager
    def tagged(self, tag: str):
        self.sc.addJobTag(tag)
        try:
            yield
        finally:
            self.sc.removeJobTag(tag)

    def counts(self, tag: str) -> dict[str, int]:
        jobs = list(self.st.getJobIdsForTag(tag))
        stages = tasks = 0
        for j in jobs:
            info = self.st.getJobInfo(j)
            if not info.isDefined():
                continue
            for sid in info.get().stageIds():
                stages += 1
                si = self.st.getStageInfo(sid)
                if si.isDefined():
                    tasks += si.get().numTasks()
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning seconds from the DataFrame's
    QueryPlanningTracker (the phases its last action went through)."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # noqa: BLE001 - a plan without a tracker has none
        return 0.0
    total = 0
    it = phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


def stream_listener_class():
    """A StreamingQueryListener collecting every progress event as a
    dict (imported lazily: pyspark must be importable first)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog


def parse_event_log(directory: str) -> dict[str, float]:
    """Sum task metrics over every SparkListenerTaskEnd in the
    uncompressed event logs under ``directory``."""
    out = {"executor_run_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    if not os.path.isdir(directory):
        return out
    paths = sorted(os.path.join(r, n) for r, _, files in os.walk(directory) for n in files)
    for path in paths:
        if os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line[:64]:
                    continue
                m = json.loads(line).get("Task Metrics") or {}
                out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                r = m.get("Shuffle Read Metrics") or {}
                out["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                w = m.get("Shuffle Write Metrics") or {}
                out["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def bytes_under(path: str, since: float) -> int:
    """Bytes of the files under ``path`` modified at or after ``since``
    (epoch seconds): what one merge call wrote."""
    total = 0
    for root, _, files in os.walk(path):
        for n in files:
            try:
                st = os.stat(os.path.join(root, n))
            except OSError:
                continue
            if st.st_mtime >= since and not n.startswith((".", "_")):
                total += st.st_size
    return total
