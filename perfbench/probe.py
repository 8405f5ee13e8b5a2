"""Measurement helpers: percentiles, spans and self time, Spark progress
and job counts, and process-tree RSS.

Everything here observes the engine from outside: spans wrap calls into
the package's public functions, streaming progress comes from a
``StreamingQueryListener``, and job counts from ``statusTracker`` job
groups. Nothing inside ``gmall_flink_0526_spark`` is changed.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import os
import sys
import threading
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from datetime import datetime


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) of a non-empty
    sample, numpy's default method."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return percentile(values, 50)


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    sid: int = 0
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children count once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.sid] = max(s.end - s.start - covered, 0.0)
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + st[s.sid]
    return out


class Tracer:
    """Keeps spans in memory. A span opened on a thread with no open span
    (a foreachBatch callback, a writer pool thread) is parented to the
    innermost span open on the main thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        return self._main_stack[-1] if self._main_stack else None

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        with self._lock:
            s = Span(name, layer, start, end, parent, len(self.spans) + 1, attrs)
            self.spans.append(s)
        return s

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self.current()
        s = self.add(name, layer, time.time(), math.nan, parent, **attrs)
        stack = self._stack()
        stack.append(s.sid)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def _wrap(tracer: Tracer, fn: Callable, name: str, layer: str) -> Callable:
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    traced.__wrapped_original__ = fn
    return traced


@contextlib.contextmanager
def instrument(tracer: Tracer, targets: list[tuple[object, str, str, str]]):
    """Wrap ``getattr(owner, attr)`` in a span for the duration of the
    block. Module-level aliases of the same function (``from x import
    f``) anywhere in the package are wrapped too, so every call site is
    seen. ``targets`` holds ``(owner, attr, span name, layer)``."""
    patched: list[tuple[object, str, object]] = []
    try:
        for owner, attr, name, layer in targets:
            original = getattr(owner, attr)
            wrapped = _wrap(tracer, original, name, layer)
            holders = [owner] + [
                m
                for k, m in list(sys.modules.items())
                if k.startswith("gmall_flink_0526_spark") and m is not owner and getattr(m, attr, None) is original
            ]
            for h in holders:
                patched.append((h, attr, original))
                setattr(h, attr, wrapped)
        yield
    finally:
        for h, attr, original in reversed(patched):
            setattr(h, attr, original)


# -- Spark progress and jobs -------------------------------------------------


def iso_ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WAL_KEYS = ("walCommit", "commitOffsets", "commitBatch")


class Progress:
    """Collects every ``QueryProgressEvent`` by run id. Registered as a
    ``StreamingQueryListener`` only in traced runs."""

    def __init__(self):
        self.by_run: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer._lock:
                    outer.by_run.setdefault(p["runId"], []).append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _L()

    def epochs(self, run_ids: Iterable[str]) -> list[dict]:
        with self._lock:
            return [p for r in run_ids for p in self.by_run.get(r, [])]


def epoch_split(progress: list[dict]) -> dict[str, float]:
    """Sum an epoch list's ``durationMs`` phases (seconds) and its
    ``stateOperators`` figures; state rows and memory are the last
    epoch's, update and commit times are summed."""
    d = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1000.0  # noqa: E731
    last_state = progress[-1].get("stateOperators", []) if progress else []
    return {
        "epochs": float(len(progress)),
        "addBatch_s": sum(d(p, "addBatch") for p in progress),
        "planning_s": sum(d(p, "queryPlanning") for p in progress),
        "walcommit_s": sum(d(p, k) for p in progress for k in WAL_KEYS),
        "trigger_s": sum(d(p, "triggerExecution") for p in progress),
        "state_rows": float(sum(s.get("numRowsTotal", 0) for s in last_state)),
        "state_memory_bytes": float(sum(s.get("memoryUsedBytes", 0) for s in last_state)),
        "state_update_ms": float(
            sum(s.get("allUpdatesTimeMs", 0) for p in progress for s in p.get("stateOperators", []))
        ),
        "state_commit_ms": float(
            sum(s.get("commitTimeMs", 0) for p in progress for s in p.get("stateOperators", []))
        ),
    }


def epoch_spans(tracer: Tracer, progress: list[dict], parent: int | None, query: str) -> None:
    """Add one span per epoch, a child of its query's span."""
    for p in progress:
        start = iso_ts(p["timestamp"])
        dur = p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        tracer.add(f"streaming.{query}.epoch", "streaming.epoch", start, start + dur, parent, batch=p["batchId"])


class Jobs:
    """Spark job, stage and task counts per benchmark call, read from
    ``statusTracker``. Jobs submitted from the calling thread carry the
    call's job group; streaming micro-batches carry their query's run id
    as group; jobs from helper threads carry none, so new ungrouped jobs
    are charged to the call that was running."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    @contextlib.contextmanager
    def call(self, label: str):
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, label)
        counts: dict[str, float] = {}
        try:
            yield counts
        finally:
            self.sc.setJobGroup(None, None)
            ids = set(self.tracker.getJobIdsForGroup(group))
            ids |= set(self.tracker.getJobIdsForGroup(None)) - before
            counts.update(self.count(ids))

    def count(self, job_ids: Iterable[int]) -> dict[str, float]:
        jobs = stages = tasks = failed = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": float(jobs), "stages": float(stages), "tasks": float(tasks), "tasks_failed": float(failed)}


# -- memory ------------------------------------------------------------------


def tree_rss_mb(root_pid: int) -> float:
    """Resident set size of ``root_pid`` and all its descendants, from
    ``/proc``."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            fields = stat[stat.rindex(")") + 2 :].split()
            parent[int(entry)] = int(fields[1])
            rss[int(entry)] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, ValueError, IndexError):
            continue
    total, todo = 0, [root_pid]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / (1024 * 1024)


class RssSampler:
    """Samples :func:`tree_rss_mb` of this process every ``interval``
    seconds on a daemon thread and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
