"""Spans recorded from outside the library, plus the Spark-side counts
that go with them.

A span is a dict ``{id, name, trace, parent, start, end}``. Spans live in
memory while the benchmark runs and are flushed to one JSON file at the
end. Each open span also adds a Spark job tag (``pb-<id>``) on the
calling thread, so every job a span launches, directly or through a
child thread that inherits the thread's local properties, can be found
afterwards in the status store by its tag.

The pure helpers (``self_times``, ``uncovered``, ``walk_plan``) take no
Spark objects of their own and are unit-tested without a session.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

# -- interval arithmetic ---------------------------------------------------


def _union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """span id -> duration minus the part of it its direct children cover.

    Children are clipped to the parent's interval and overlapping
    children (two layers running on separate threads) count once."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = _union_length(
            (max(c["start"], lo), min(c["end"], hi)) for c in kids.get(s["id"], ())
        )
        out[s["id"]] = (hi - lo) - covered
    return out


def uncovered(spans, start: float, end: float) -> float:
    """Part of the wall interval [start, end] that no root span covers."""
    roots = [s for s in spans if s["parent"] is None]
    return (end - start) - _union_length(
        (max(s["start"], start), min(s["end"], end)) for s in roots
    )


# -- tracer ----------------------------------------------------------------


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes ``span`` a no-op,
    so the untraced run executes the same benchmark code. Set ``sc`` to
    the SparkContext once the session exists; from then on each span
    also tags the Spark jobs it launches."""

    def __init__(self, enabled: bool = True):
        self.sc = None
        self.enabled = enabled
        self.spans: list = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self):
        """Innermost span open on the calling thread, or None."""
        stack = self._stack()
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, trace=None, parent=None):
        """Record a span around the block. ``parent`` defaults to the
        innermost span open on this thread; pass it for a span opened on
        a thread the library started."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = parent or self.current()
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "trace": trace if trace is not None else (parent or {}).get("trace"),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        tag = f"pb-{sid}"
        if self.sc is not None:
            self.sc.addJobTag(tag)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.sc is not None:
                self.sc.removeJobTag(tag)
            with self._lock:
                self.spans.append(rec)

    def flush(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


@contextmanager
def patched(obj, attr: str, wrap):
    """Temporarily replace ``obj.attr`` with ``wrap(original)``."""
    orig = getattr(obj, attr)
    setattr(obj, attr, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def traced_call(tracer: Tracer, name: str):
    """Wrapper factory for ``patched``: run the original inside a span."""

    def wrap(fn):
        def inner(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        return inner

    return wrap


# -- Spark status store ----------------------------------------------------


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


class SparkCounts:
    """Per-span job / stage / task counts read once from the driver's
    status store (the store ``statusTracker()`` reads; it is kept with
    the UI off)."""

    def __init__(self, sc):
        store = sc._jsc.sc().statusStore()
        self.jobs_by_tag: dict = {}
        stage_ids: dict = {}
        for j in _seq(store.jobsList(None)):
            jid = j.jobId()
            sids = [int(x) for x in _seq(j.stageIds())]
            for t in _seq(j.jobTags()):
                self.jobs_by_tag.setdefault(t, []).append(jid)
            stage_ids[jid] = sids
        self.stage_ids = stage_ids
        self._store = store
        self._stages: dict = {}

    def _stage(self, sid: int) -> dict:
        if sid not in self._stages:
            sd = self._store.lastStageAttempt(sid)
            self._stages[sid] = {
                "tasks": sd.numCompleteTasks(),
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_write_bytes": sd.shuffleWriteBytes(),
            }
        return self._stages[sid]

    def for_span(self, span_id: int) -> dict:
        """Jobs, run stages and summed stage metrics of one span and its
        descendants. A stage skipped because its shuffle output was
        reused has no completed tasks and is not counted."""
        jobs = self.jobs_by_tag.get(f"pb-{span_id}", [])
        sids = sorted({s for j in jobs for s in self.stage_ids.get(j, [])})
        stages = [self._stage(s) for s in sids]
        ran = [s for s in stages if s["tasks"] > 0]
        out = {"jobs": len(jobs), "stages": len(ran)}
        for key in ("tasks", "cpu_s", "gc_s", "shuffle_write_bytes"):
            out[key] = sum(s[key] for s in ran)
        return out


# -- executed-plan metrics (AQE aware) -------------------------------------


def _metrics(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def walk_plan(node):
    """Yield (node name, SQL metrics) for every operator of an executed
    physical plan. Descends through ``AdaptiveSparkPlanExec`` into its
    final plan and through each ``*QueryStageExec`` into the stage's
    plan, which plain ``children()`` hides."""
    todo = [node]
    while todo:
        n = todo.pop()
        cls = n.getClass().getSimpleName()
        yield n.nodeName(), _metrics(n)
        if cls == "AdaptiveSparkPlanExec":
            todo.append(n.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(n.plan())
        else:
            todo.extend(_seq(n.children()))


def wand_plan_counts(df) -> dict:
    """Scan, prune, exchange and leaf counts of a collected search_wand
    DataFrame, read from its executed plan."""
    out = {
        "files_read": 0, "blocks_read": 0, "blocks_kept": 0,
        "exchange_bytes": 0, "leaf_python_ms": 0, "leaf_bytes_in": 0,
    }
    for name, m in walk_plan(df._jdf.queryExecution().executedPlan()):
        if name.startswith("Scan parquet"):
            out["files_read"] += m.get("numFiles", 0)
            out["blocks_read"] += m.get("numOutputRows", 0)
        elif name == "Filter":
            out["blocks_kept"] += m.get("numOutputRows", 0)
        elif name == "Exchange":
            out["exchange_bytes"] += m.get("shuffleBytesWritten", 0)
        elif name == "FlatMapGroupsInPandas":
            out["leaf_python_ms"] += m.get("pythonTotalTime", 0)
            out["leaf_bytes_in"] += m.get("pythonDataSent", 0)
    return out
