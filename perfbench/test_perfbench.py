"""Unit tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Tracer, self_times, uncovered, walk_plan, wand_plan_counts  # noqa: E402
from workload import (  # noqa: E402
    HEAD_MAX_RANK, HEAD_SHAPES, N_WARMUP, TAIL_MIN_RANK, TAIL_SIZES, TailQueries,
    head_queries, high_percentile, percentile,
)


def term(rank: int) -> str:
    return f"t{rank}"


def rank(t: str) -> int:
    return int(t[1:])


# -- percentile rule ---------------------------------------------------------


def test_high_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))  # 100 samples
    assert high_percentile(xs) == (90, 90)
    assert high_percentile(xs[:99])[0] == 75     # p90 would leave 9 beyond
    assert high_percentile(xs[:40])[0] == 75
    assert high_percentile(xs[:39])[0] == 50
    assert high_percentile(xs[:20]) == (50, 10)
    assert high_percentile(xs[:19]) is None      # not even p50 has 10 beyond


def test_percentile_nearest_rank():
    assert percentile([5, 1, 3], 50) == 3
    assert percentile([1, 2, 3, 4], 50) == 2
    assert percentile([7], 99) == 7


# -- span arithmetic ---------------------------------------------------------


def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "trace": None, "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),   # overlaps child 1: counted once
        _span(3, 1, 1.5, 2.0),   # grandchild: not subtracted from span 0
    ]
    st = self_times(spans)
    assert st[0] == 5.0
    assert st[1] == 2.5
    assert st[2] == 3.0
    assert st[3] == 0.5


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 2.0, 4.0), _span(1, 0, 1.0, 3.0)]
    assert self_times(spans)[0] == 1.0


def test_uncovered_counts_only_root_gaps():
    spans = [
        _span(0, None, 0.0, 2.0),
        _span(1, None, 5.0, 7.0),
        _span(2, 1, 5.5, 6.0),
        _span(3, None, 9.0, 12.0),  # clipped at the wall end
    ]
    assert uncovered(spans, 0.0, 10.0) == 5.0


def test_tracer_parents_nested_and_cross_thread_spans():
    tr = Tracer()
    with tr.span("build", trace="b") as build:
        with tr.span("segments") as seg:
            assert tr.current() is seg

            def worker():
                assert tr.current() is None  # a fresh thread has no stack
                with tr.span("stored", parent=build):
                    pass

            t = threading.Thread(target=worker)
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    by_name = {s["name"]: s for s in tr.spans}
    assert by_name["build"]["parent"] is None
    assert by_name["segments"]["parent"] == by_name["build"]["id"]
    assert by_name["stored"]["parent"] == by_name["build"]["id"]
    assert {s["trace"] for s in tr.spans} == {"b"}
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


# -- AQE-aware plan walk -----------------------------------------------------


class _Seq:
    def __init__(self, items):
        self.items = list(items)

    def length(self):
        return len(self.items)

    def apply(self, i):
        return self.items[i]


class _Metric:
    def __init__(self, v):
        self.v = v

    def value(self):
        return self.v


class _KV:
    def __init__(self, k, v):
        self.k, self.v = k, v

    def _1(self):
        return self.k

    def _2(self):
        return _Metric(self.v)


class _Iter:
    def __init__(self, d):
        self.items = [_KV(k, v) for k, v in d.items()]

    def hasNext(self):
        return bool(self.items)

    def next(self):
        return self.items.pop(0)


class _Map:
    def __init__(self, d):
        self.d = d

    def iterator(self):
        return _Iter(self.d)


class _Class:
    def __init__(self, name):
        self.name = name

    def getSimpleName(self):
        return self.name


class Node:
    """Stands in for a py4j SparkPlan: AQE nodes hide their plan from
    children(), as the real AdaptiveSparkPlanExec and QueryStageExec do."""

    def __init__(self, cls, name, metrics=None, children=(), inner=None):
        self.cls, self.name, self.m = cls, name, metrics or {}
        self.kids, self.inner = list(children), inner

    def getClass(self):
        return _Class(self.cls)

    def nodeName(self):
        return self.name

    def metrics(self):
        return _Map(self.m)

    def children(self):
        return _Seq(self.kids)

    def executedPlan(self):
        return self.inner

    def plan(self):
        return self.inner


def _aqe_wand_plan():
    scan = Node("FileSourceScanExec", "Scan parquet ",
                {"numFiles": 7, "numOutputRows": 2782})
    filt = Node("FilterExec", "Filter", {"numOutputRows": 167}, [scan])
    exch = Node("ShuffleExchangeExec", "Exchange",
                {"shuffleBytesWritten": 56132}, [filt])
    stage = Node("ShuffleQueryStageExec", "ShuffleQueryStage", inner=exch)
    leaf = Node("FlatMapGroupsInPandasExec", "FlatMapGroupsInPandas",
                {"pythonTotalTime": 338, "pythonDataSent": 73080}, [stage])
    top = Node("TakeOrderedAndProjectExec", "TakeOrderedAndProject", children=[leaf])
    result = Node("ResultQueryStageExec", "ResultQueryStage", inner=top)
    return Node("AdaptiveSparkPlanExec", "AdaptiveSparkPlan", inner=result)


def test_walk_plan_descends_through_aqe_stages():
    names = [n for n, _ in walk_plan(_aqe_wand_plan())]
    assert names[0] == "AdaptiveSparkPlan"
    for expected in ("ResultQueryStage", "FlatMapGroupsInPandas",
                     "ShuffleQueryStage", "Exchange", "Filter", "Scan parquet "):
        assert expected in names


def test_wand_plan_counts_reads_scan_prune_exchange_and_leaf():
    class DF:
        class _jdf:
            @staticmethod
            def queryExecution():
                class QE:
                    @staticmethod
                    def executedPlan():
                        return _aqe_wand_plan()

                return QE

    assert wand_plan_counts(DF) == {
        "files_read": 7, "blocks_read": 2782, "blocks_kept": 167,
        "exchange_bytes": 56132, "leaf_python_ms": 338, "leaf_bytes_in": 73080,
    }


# -- seeded query generators -------------------------------------------------


def test_tail_terms_are_first_seen_and_disjoint_from_warmup():
    tq = TailQueries(seed=3, term=term)
    warm_terms = [t for q in tq.warmup for t in q[1]]
    passes = [tq.next_pass() for _ in range(100)]
    timed = [q for p in passes for q in p]
    timed_terms = [t for q in timed for t in q[1]]
    all_terms = warm_terms + timed_terms
    assert len(all_terms) == len(set(all_terms))
    assert all(rank(t) >= TAIL_MIN_RANK for t in all_terms)
    assert len(tq.warmup) == N_WARMUP
    assert [len(q[1]) for q in tq.warmup] == [
        TAIL_SIZES[i % len(TAIL_SIZES)] for i in range(N_WARMUP)
    ]
    # every timed pass holds one query of each size
    assert all(sorted(len(q[1]) for q in p) == sorted(TAIL_SIZES) for p in passes)
    assert all(q[0] == "disjunctive" for q in timed)


def test_generators_are_deterministic_per_seed():
    a, b = TailQueries(5, term), TailQueries(5, term)
    assert a.warmup == b.warmup
    assert [next(a) for _ in range(20)] == [next(b) for _ in range(20)]
    assert head_queries(5, term) == head_queries(5, term)
    assert head_queries(5, term) != head_queries(6, term)
    assert TailQueries(6, term).warmup != TailQueries(5, term).warmup


def test_head_queries_follow_shapes_and_rank_limit():
    qs = head_queries(9, term)
    assert [(m, len(ts), msm) for m, ts, msm in qs] == [
        (m, n, msm) for m, n, msm in HEAD_SHAPES
    ]
    for _, ts, _ in qs:
        assert len(set(ts)) == len(ts)
        assert all(1 <= rank(t) <= HEAD_MAX_RANK for t in ts)
