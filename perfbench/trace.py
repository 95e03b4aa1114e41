"""Spans around calls into the program's modules, and the per-layer
numbers derived from them.

The traced run wraps public functions of the program at run time (the
program's files are not changed): snapshot-table writes and manifest
reads, the warehouse state save, the engine's ``count``/``isEmpty``
materializations, hot-host detection, and ``Future.result`` on the
main thread. Workload code opens the remaining spans itself (the pass
root, ``get_spark``, each catalog query, the SERP pagination run).

Each span records name, layer, start, end, parent, thread and run id.
A span that can launch Spark jobs also marks its thread with the local
property ``perfbench.span`` (and a job description), so the event log
attributes every task to the innermost span that submitted it.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROP = "perfbench.span"

# snapshot table -> the crawl layer whose output it holds
TABLE_LAYER = {
    "crawl_order": "fetch",
    "entities_raw": "extract",
    "frontier": "expand",
    "seen": "seen",
    "seen_pairs": "seen",
    "deleted": "seen",
    "cuckoo": "seen",
    "bloom": "seen",
    "payload_report": "validate",
    "entities": "finalize",
    "metrics": "metrics",
}

# engine method that calls DataFrame.count/isEmpty -> layer of that
# materialization; calls from anywhere else are not spans of their own
COUNT_CALLER_LAYER = {
    "_sched_for_depth": "schedule",
    "run": "schedule",  # the empty-window test before a depth superstep
    "_superstep_seeds": "expand",
    "_superstep_depth": "expand",
    "_update_seen": "seen",
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    thread: str
    run: str
    marks: bool = True  # sets the thread's Spark span property
    written: tuple[int, int] = (0, 0)  # (parquet bytes, parquet files) a table write wrote

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory while a pass is open (``active``)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, once it exists
        self.root: Span | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    @property
    def active(self) -> bool:
        return self.root is not None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _mark(self, span: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty(SPAN_PROP, None if span is None else str(span.id))
        self.sc.setLocalProperty(
            "spark.job.description", None if span is None else f"{span.layer}:{span.name}"
        )

    @contextmanager
    def pass_root(self, name: str, run: str):
        """The root span of one measured pass; spans open only inside it.
        Its spans' run id is the tracer's run id and the pass's."""
        span = Span(next(self._ids), name, "loop", time.perf_counter(), 0.0, None,
                    threading.current_thread().name, f"{self.run_id}/{run}")
        self.root = span
        self._stack().append(span)
        self._mark(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack().pop()
            self._mark(None)
            self.root = None
            with self._lock:
                self.spans.append(span)

    @contextmanager
    def span(self, name: str, layer: str, spark: bool = True):
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        span = Span(next(self._ids), name, layer, time.perf_counter(), 0.0, parent.id,
                    threading.current_thread().name, parent.run, marks=spark)
        stack.append(span)
        if spark:
            self._mark(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if spark:
                # hand the thread back to the innermost enclosing marking span
                self._mark(next((s for s in reversed(stack) if s.marks), None))
            with self._lock:
                self.spans.append(span)


class Patches:
    """Run-time wrappers around program functions, undone by ``undo``."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._undo.append((owner, attr, orig))

    def undo(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def install(tracer: Tracer) -> Patches:
    from concurrent.futures import Future

    from pyspark.sql.classic.dataframe import DataFrame

    from scrapeulous_spark.operators import salting
    from scrapeulous_spark.sources.tables import SnapshotTable, Warehouse

    p = Patches()

    def table_write(op):
        def make(orig):
            def wrapper(self, *a, **k):
                with tracer.span(f"{self.name}.{op}", TABLE_LAYER.get(self.name, "tables")) as span:
                    snap = orig(self, *a, **k)
                if span is not None:
                    # every commit's last data dir is the one it wrote
                    span.written = dir_usage(snap["dirs"][-1], ".parquet")
                return snap
            return wrapper
        return make

    for op in ("append", "overwrite", "merge"):
        p.wrap(SnapshotTable, op, table_write(op))

    def plain(name, layer, spark):
        def make(orig):
            def wrapper(*a, **k):
                with tracer.span(name, layer, spark=spark):
                    return orig(*a, **k)
            return wrapper
        return make

    p.wrap(SnapshotTable, "snapshots", plain("snapshots", "tables", False))
    p.wrap(SnapshotTable, "current", plain("current", "tables", False))
    p.wrap(Warehouse, "save_state", plain("save_state", "tables", False))
    # the engine imports detect_hot_hosts from the module at call time
    p.wrap(salting, "detect_hot_hosts", plain("hot_hosts", "expand", True))

    def materialize(op):
        def make(orig):
            def wrapper(self, *a, **k):
                caller = sys._getframe(1)
                layer = None
                if caller.f_globals.get("__name__") == "scrapeulous_spark.plans.loop":
                    layer = COUNT_CALLER_LAYER.get(caller.f_code.co_name)
                if layer is None:
                    return orig(self, *a, **k)
                with tracer.span(f"{caller.f_code.co_name}.{op}", layer):
                    return orig(self, *a, **k)
            return wrapper
        return make

    for op in ("count", "isEmpty"):
        p.wrap(DataFrame, op, materialize(op))

    def make_result(orig):
        def wrapper(self, *a, **k):
            if threading.current_thread() is not threading.main_thread():
                return orig(self, *a, **k)
            with tracer.span("drain_wait", "loop", spark=False):
                return orig(self, *a, **k)
        return wrapper

    p.wrap(Future, "result", make_result)
    return p


def dir_usage(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, count) of the files under a directory whose names end
    with ``suffix``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


# ------------------------------------------------------------ arithmetic


def _merge(intervals) -> list[tuple[float, float]]:
    """Sorted, disjoint intervals covering the same points."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def union_len(intervals) -> float:
    """Total length covered by a set of [start, end) intervals."""
    return sum(e - s for s, e in _merge(intervals))


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.dur - union_len(_clip(kids.get(s.id, []), s.start, s.end)) for s in spans
    }


def multi_thread_len(intervals_by_thread: dict[str, list[tuple[float, float]]]) -> float:
    """Time during which spans on at least two threads are open."""
    edges = sorted(
        (t, d) for ivs in intervals_by_thread.values() for s, e in _merge(ivs) for t, d in ((s, 1), (e, -1))
    )
    total, open_n, last = 0.0, 0, 0.0
    for t, d in edges:
        if open_n >= 2:
            total += t - last
        open_n += d
        last = t
    return total


def loop_metrics(spans: list[Span], root: Span) -> dict[str, float]:
    """``loop.*`` numbers for one pass root. Drain waits are the main
    thread blocked on a background future; ``main_idle_s`` is
    main-thread time inside no span at all (driver-side planning between
    calls); ``overlap_s`` is time with spans open on two or more threads
    (drain waits excluded: the main thread is not working then);
    ``cover_frac`` is the share of the root's wall some span covers."""
    inner = [s for s in spans if s.id != root.id and s.run == root.run]
    main = [(s.start, s.end) for s in inner if s.thread == root.thread]
    by_thread: dict[str, list[tuple[float, float]]] = {}
    for s in inner:
        if s.name != "drain_wait":
            by_thread.setdefault(s.thread, []).append((s.start, s.end))
    return {
        "loop.supersteps": float(sum(1 for s in inner if s.name == "save_state")),
        "loop.main_idle_s": root.dur - union_len(_clip(main, root.start, root.end)),
        "loop.drain_wait_s": sum(s.dur for s in inner if s.name == "drain_wait"),
        "loop.overlap_s": multi_thread_len(by_thread),
        "loop.cover_frac": union_len(_clip([(s.start, s.end) for s in inner], root.start, root.end)) / root.dur,
    }


# ------------------------------------------------------------- event log


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Span id -> Spark totals of the jobs and tasks that span submitted.
    Stages are attributed through the local properties their job was
    submitted with, so a job's tasks count against one span only."""
    stage_span: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(sid: str) -> dict[str, float]:
        return out.setdefault(sid, dict.fromkeys(SPARK_STATS, 0.0))

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                if sid is not None:
                    acc(sid)["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                if sid is not None:
                    stage_span[ev["Stage Info"]["Stage ID"]] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(ev["Stage ID"])
                if sid is None:
                    continue
                a = acc(sid)
                info = ev["Task Info"]
                metrics = ev.get("Task Metrics") or {}
                a["task_s"] += (info["Finish Time"] - info["Launch Time"]) / 1e3
                a["gc_s"] += metrics.get("JVM GC Time", 0) / 1e3
                a["shuffle_mb"] += (
                    (metrics.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                a["spill_mb"] += metrics.get("Disk Bytes Spilled", 0) / 1e6
                reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                if info.get("Failed") or reason != "Success":
                    a["failed_tasks"] += 1
    return out


SPARK_STATS = ("jobs", "task_s", "gc_s", "shuffle_mb", "spill_mb", "failed_tasks")
LAYER_SPARK = ("task_s", "gc_s", "shuffle_mb")


def event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    merged: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(log_dir)):
        for sid, stats in parse_event_log(os.path.join(log_dir, name)).items():
            m = merged.setdefault(sid, dict.fromkeys(SPARK_STATS, 0.0))
            for k, v in stats.items():
                m[k] += v
    return merged


def pass_report(spans: list[Span], root: Span, spark_stats: dict[str, dict[str, float]],
                cores: int) -> dict[str, float]:
    """Generic per-layer numbers of one traced pass: each layer's self
    time and its spans' Spark totals, plus ``tables.*``, ``loop.*`` and
    ``spark.*``. Workload code adds the counts it reads from outputs."""
    mine = [s for s in spans if s.run == root.run]
    selfs = self_times(mine)
    out: dict[str, float] = {}

    def add(k: str, v: float) -> None:
        out[k] = out.get(k, 0.0) + v

    for s in mine:
        if s.id != root.id:
            add(f"{s.layer}.wall_s", selfs[s.id])
        stats = spark_stats.get(str(s.id))
        if stats is not None:
            for k in LAYER_SPARK:
                add(f"{s.layer}.{k}", stats[k])
            for k in SPARK_STATS:
                add(f"spark.{k}", stats[k])
    out["tables.commits"] = float(sum(1 for s in mine if s.name.endswith((".append", ".overwrite", ".merge"))))
    out["tables.bytes_written"] = float(sum(s.written[0] for s in mine))
    out["tables.files_written"] = float(sum(s.written[1] for s in mine))
    out["tables.manifest_reads"] = float(sum(1 for s in mine if s.name == "snapshots"))
    out["tables.manifest_s"] = sum(selfs[s.id] for s in mine if s.name in ("snapshots", "current"))
    out["tables.state_save_s"] = sum(s.dur for s in mine if s.name == "save_state")
    out.update(loop_metrics(mine, root))
    out["spark.occupancy"] = out.get("spark.task_s", 0.0) / (cores * root.dur)
    return out
