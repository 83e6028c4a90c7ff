"""Per-layer tracing from outside the program.

The traced run patches the program's public entry points at the names
their callers import them by, records one span per call (name, layer,
start, end, parent, run id), tags the Spark jobs submitted inside it
with the layer's job group, and forces lazy DataFrame results to
materialize before the span closes so a layer's time lands in its own
span. The Spark event log is reduced afterwards to per-layer engine
counters. Nothing here edits the program.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: int | None
    run: str
    rows: int | None = None  # size of the materialized result, if any

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_seconds(intervals: list[tuple[float, float]], lo: float | None = None,
                  hi: float | None = None) -> float:
    """Length of the union of intervals, optionally clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - union_seconds(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


def materialize(out) -> int | None:
    """Force lazy results (a DataFrame, or DataFrames inside a tuple, list
    or dict) to compute now, and return a row count: a tuple's first
    result, or a dict's total (its frames split one result by key). Each
    frame is persisted first so the caller's own later actions reuse the
    work instead of repeating it."""
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        out.persist()
        return out.count()
    if isinstance(out, dict):
        return sum(materialize(x) for x in out.values() if isinstance(x, DataFrame))
    if isinstance(out, (tuple, list)):
        counts = [materialize(x) for x in out if isinstance(x, (DataFrame, dict))]
        return counts[0] if counts else None
    return None


class Tracer:
    """Spans in memory plus Spark job groups. With ``spark=None`` it only
    records spans (used by the self-tests)."""

    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        self._next = 0

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> Span | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a pool thread started inside a span belongs to that span
        return self._main_stack[-1] if self._main_stack else None

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setJobGroup("driver", "outside every layer span")
        else:
            sc.setJobGroup(span.layer, span.name)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._parent()
        with self._lock:
            sid = self._next
            self._next += 1
        s = Span(sid, name, layer, time.time(), 0.0, parent.id if parent else None, self.run_id)
        stack = self._stack()
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else parent)
            with self._lock:
                self.spans.append(s)

    def wrap(self, module, attr: str, layer: str, materialize_result: bool = True) -> None:
        """Replace ``module.attr`` by a spanning wrapper (undone by unpatch).
        A name the program no longer has is skipped: its layer reads 0."""
        original = getattr(module, attr, None)
        if original is None:
            print(f"# trace: {module.__name__}.{attr} not found, not traced", file=sys.stderr)
            return
        name = f"{getattr(module, '__name__', type(module).__name__)}.{attr}"

        def traced(*args, **kwargs):
            with self.span(name, layer) as s:
                out = original(*args, **kwargs)
                if materialize_result:
                    s.rows = materialize(out)
                return out

        traced.__wrapped__ = original
        setattr(module, attr, traced)
        self._patches.append((module, attr, original))

    def unpatch(self) -> None:
        for module, attr, original in reversed(self._patches):
            setattr(module, attr, original)
        self._patches.clear()

    def layer_seconds(self) -> tuple[dict[str, float], dict[str, float]]:
        """(self seconds, inclusive seconds) per layer. Inclusive time is the
        union of the layer's spans, so nested same-layer spans count once."""
        own = self_seconds(self.spans)
        selfs: dict[str, float] = {}
        spans_by_layer: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            selfs[s.layer] = selfs.get(s.layer, 0.0) + own[s.id]
            spans_by_layer.setdefault(s.layer, []).append((s.start, s.end))
        incl = {k: union_seconds(v) for k, v in spans_by_layer.items()}
        return selfs, incl

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def scan_metrics(df) -> dict[str, int]:
    """Sum the file-scan metrics (files read, rows output) of a DataFrame's
    executed plan; call after an action ran on that same DataFrame."""
    plan = df._jdf.queryExecution().executedPlan()
    out = {"files": 0, "rows": 0}
    todo = [plan]
    while todo:
        node = todo.pop()
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
        if not node.nodeName().startswith("Scan"):
            continue
        metrics = node.metrics()
        for key, dst in (("numFiles", "files"), ("numOutputRows", "rows")):
            m = metrics.get(key)
            if m.isDefined():
                out[dst] += int(m.get().value())
    return out


def read_event_log(log_dir: str, timeout_s: float = 20.0) -> list[dict]:
    """Events of the (single) application logged under log_dir, after
    waiting for its ApplicationEnd record to be flushed."""
    deadline = time.monotonic() + timeout_s
    while True:
        events = []
        for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))) + sorted(
            p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
        ):
            with open(path) as f:
                for line in f:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass  # a partially flushed last line
        if any(e.get("Event") == "SparkListenerApplicationEnd" for e in events):
            return events
        if time.monotonic() > deadline:
            raise RuntimeError(f"event log under {log_dir} never recorded ApplicationEnd")
        time.sleep(0.2)


def reduce_event_log(events: list[dict]) -> dict:
    """Per job group: task, GC and wall seconds, shuffle-write and spill
    bytes; plus every job's (group, submit, end) interval."""
    stage_group: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    groups: dict[str, dict[str, float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "driver"
            jobs[e["Job ID"]] = {"group": g, "start": e["Submission Time"] / 1000.0, "end": None}
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            g = stage_group.get(e.get("Stage ID"), "driver")
            acc = groups.setdefault(g, {"task_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0.0,
                                        "spill_bytes": 0.0, "tasks": 0.0})
            acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            shuffle = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            acc["tasks"] += 1
    return {"groups": groups, "jobs": [j for j in jobs.values() if j["end"] is not None]}
