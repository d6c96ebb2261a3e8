"""Span recorder for the benchmark.

Spans are recorded from the benchmark's own files, around calls into the
program's public functions (`Tracer.wrap` patches a class method or module
function for the life of the process). Each span tags the Spark jobs it
starts with its own job group, so a job is attributed to the innermost span
active when it started; after each operation the benchmark harvests those
jobs' stage metrics from Spark's status store.

The arithmetic helpers (`self_times`, `tail_percentile`) are pure functions
so the tests can check them without Spark.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import uuid
from dataclasses import dataclass, field

# the per-layer metric fields, in print order
FIELDS = ("self_s", "calls", "jobs", "tasks", "exec_cpu_s", "out_bytes",
          "shuffle_bytes", "rows_out", "failed_tasks")
_STAGE_FIELDS = ("tasks", "exec_cpu_s", "out_bytes", "shuffle_bytes",
                 "rows_out", "failed_tasks", "in_bytes", "read_bytes")


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    op: str | None
    end: float | None = None
    group: str = ""
    jobs: list[int] = field(default_factory=list)
    stages: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of that interval its direct
    children cover (children may overlap each other; they are clipped to the
    parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s.sid, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
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
        out[s.sid] = (s.end - s.start) - covered
    return out


def tail_percentile(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile that has at least 10 samples beyond it:
    (value, percentile, sample count), or None below 11 samples. With n
    sorted samples the k-th smallest has n - k samples above it, so the
    answer is the (n - 10)-th smallest, at percentile 100 (n - 10) / n."""
    n = len(values)
    if n < 11:
        return None
    k = n - 10
    return sorted(values)[k - 1], 100.0 * k / n, n


def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


class Tracer:
    """Records spans. Operation roots are recorded in every run (their
    durations are the latencies); layer spans exist only while `wrap` has
    patched the layer entry points."""

    def __init__(self, sc):
        self.sc = sc
        # job groups must not repeat across tracers of one Spark session
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self.spans: list[Span] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._op_root: Span | None = None
        self._patched: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        self._harvested = 0

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _set_group(self, group: str | None) -> str | None:
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        return prev

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """A span; its Spark jobs carry its own job group while it is open.
        A span opened on a thread with no open span (the streaming callback
        thread) belongs to the operation in flight."""
        stack = self._stack()
        parent = stack[-1] if stack else self._op_root
        with self._lock:
            s = Span(len(self.spans), name, time.time(),
                     parent.sid if parent else None,
                     op if op is not None else (parent.op if parent else None))
            self.spans.append(s)
        s.group = f"{self._prefix}-{s.sid}"
        prev = self._set_group(s.group)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(prev)

    @contextlib.contextmanager
    def op(self, name: str, op_id: str):
        """Root span of one closed-loop operation (a batch, read or query);
        its duration is the operation's latency."""
        with self.span(name, op=op_id) as s:
            self._op_root = s
            try:
                yield s
            finally:
                self._op_root = None

    @contextlib.contextmanager
    def in_op_group(self):
        """Tag the Spark jobs this thread starts with the in-flight
        operation's root span (for work the program runs on a thread of its
        own, such as the streaming callback)."""
        root = self._op_root
        if root is None:
            yield
            return
        prev = self._set_group(root.group)
        self._stack().append(root)
        try:
            yield
        finally:
            self._stack().pop()
            self._set_group(prev)

    def wrap(self, owner, attr: str, layer: str, on_call=None) -> None:
        """Patch `owner.attr` so every call is a span named `layer`.
        `on_call(span, args, kwargs, result)` may record attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(layer) as s:
                result = orig(*args, **kwargs)
            if on_call is not None:
                on_call(s, args, kwargs, result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- Spark job and stage metrics ----------------------------------------
    def harvest(self) -> None:
        """Attach job ids and stage metrics to every span closed since the
        last harvest. Called between operations (outside timed windows), so
        the status store still retains the jobs."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans[self._harvested:]:
            deferred = s.attrs.pop("_rows_rewritten", None)
            if deferred is not None:
                s.attrs["rows_rewritten"] = deferred()
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                for st in (info.stageIds if info else ()):
                    if st in self._seen_stages:
                        continue
                    m = _stage_metrics(store, st)
                    if m is not None:
                        self._seen_stages.add(st)
                        s.stages[st] = m
        self._harvested = len(self.spans)

    # -- reports ------------------------------------------------------------
    def per_layer(self, layers: list[str], ops: set[str]) -> dict:
        """Per-layer totals over the spans of the timed operations `ops`.
        Spans whose name is not a layer (operation roots such as `batch`)
        contribute their self time to `unattributed_s`."""
        spans = [s for s in self.spans if s.op in ops and s.end is not None]
        selfs = self_times(spans)
        out = {name: dict.fromkeys(FIELDS, 0) for name in layers}
        unattributed = 0.0
        for s in spans:
            row = out.get(s.name)
            if row is None:
                unattributed += selfs[s.sid]
                continue
            row["self_s"] += selfs[s.sid]
            row["calls"] += 1
            row["jobs"] += len(s.jobs)
            for m in s.stages.values():
                for f in ("tasks", "exec_cpu_s", "out_bytes", "shuffle_bytes",
                          "rows_out", "failed_tasks"):
                    row[f] += m[f]
        wall = sum(s.end - s.start for s in spans if s.parent is None)
        return {"layers": out, "unattributed_s": unattributed, "wall_s": wall}

    def stage_totals(self, ops: set[str]) -> dict:
        tot = dict.fromkeys(_STAGE_FIELDS, 0)
        for s in self.spans:
            if s.op in ops:
                for m in s.stages.values():
                    for f in _STAGE_FIELDS:
                        tot[f] += m[f]
        return tot

    def dump(self, path: str, extra: dict) -> None:
        rows = [{
            "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
            "parent": s.parent, "op": s.op, "jobs": s.jobs,
            "stages": {str(k): v for k, v in s.stages.items()},
            "attrs": {k: v for k, v in s.attrs.items() if not k.startswith("_")},
        } for s in self.spans]
        with open(path, "w") as fh:
            json.dump({**extra, "spans": rows}, fh)


def _stage_metrics(store, stage_id: int) -> dict | None:
    """Executor-side totals of a stage's last attempt from the status store
    (available with the UI off); None if the stage never ran."""
    from py4j.protocol import Py4JJavaError

    try:
        d = store.lastStageAttempt(stage_id)
    except Py4JJavaError:  # NoSuchElementException: the stage never ran
        return None
    return {
        "tasks": d.numCompleteTasks(),
        "exec_cpu_s": d.executorCpuTime() / 1e9,
        "out_bytes": d.outputBytes(),
        "shuffle_bytes": d.shuffleWriteBytes(),
        "rows_out": d.outputRecords(),
        "failed_tasks": d.numFailedTasks(),
        "in_bytes": d.inputBytes() + d.shuffleReadBytes(),
        "read_bytes": d.inputBytes(),
    }
