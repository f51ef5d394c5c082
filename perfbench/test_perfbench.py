"""Tests of the benchmark's own machinery (no Spark session needed).

Run with ``python3 -m pytest perfbench`` from the checkout root.
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import gen
from perfbench.common import FreshPlanGuard, ReusedPlanError, percentile
from perfbench.trace import Tracer, _parse_metric_ids
from perfbench.workloads import _CACHEABLE, QueryGen, Run, timed_query


class _Plan:
    """Stands in for a DataFrame: ``columns`` and ``collect()``."""

    columns = ["x"]

    def __init__(self):
        self.runs = 0

    def collect(self):
        self.runs += 1
        return [(1,)]


def _run(tracer) -> Run:
    return Run(spark=None, seed=0, seconds=1, work=None, tracer=tracer)


def test_guard_allows_fresh_and_non_persisting_plans():
    guard = FreshPlanGuard()
    guard.admit(_Plan(), 3)
    guard.admit(_Plan(), 3)
    plain = _Plan()
    guard.admit(plain, 0)
    guard.admit(plain, 0)


def test_guard_rejects_reuse_of_a_persisting_plan():
    guard = FreshPlanGuard()
    plan = _Plan()
    guard.admit(plan, 1)
    with pytest.raises(ReusedPlanError):
        guard.admit(plan, 0)


def test_timed_query_fails_on_a_reused_persisting_plan():
    tracer = Tracer(enabled=False)
    shared = _Plan()

    def reusing():
        tracer.counts["cache.persist_calls"] += 1  # what a persist would count
        return shared

    run = _run(tracer)
    guard = FreshPlanGuard()
    _, persisted, _, cols, rows = timed_query(run, guard, reusing)
    assert (persisted, cols, rows) == (1, ["x"], [(1,)])
    with pytest.raises(ReusedPlanError):
        timed_query(run, guard, reusing)
    assert shared.runs == 1


def test_timed_query_builds_every_execution_fresh():
    tracer = Tracer(enabled=False)
    built = []

    def fresh():
        tracer.counts["cache.persist_calls"] += 2
        built.append(_Plan())
        return built[-1]

    run = _run(tracer)
    guard = FreshPlanGuard()
    out = [timed_query(run, guard, fresh) for _ in range(6)]
    assert len(built) == 6 and all(p.runs == 1 for p in built)
    assert [o[1] for o in out] == [2] * 6 and all(o[0] >= 0 for o in out)


def test_generators_are_seeded_and_use_int64_times():
    a = gen.events_table(np.random.default_rng(7), 100, "e")
    b = gen.events_table(np.random.default_rng(7), 100, "e")
    assert a.equals(b)
    assert str(a.schema.field("time").type) == "int64"
    assert min(a.column("time").to_pylist()) > 2**31
    codes = gen.station_codes(2)
    segs = gen.segments_table(np.random.default_rng(7), codes, 30)
    assert segs.num_rows == len(codes) * 30
    assert str(segs.schema.field("starttime").type) == "int64"


def test_percentile_interpolates():
    assert percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.5
    assert percentile([5.0], 0.9) == 5.0
    assert percentile(list(range(11)), 0.9) == pytest.approx(9.0)


def test_query_stream_is_seeded_and_rereads_recent_windows():
    codes = gen.station_codes(2)

    def stream(seed):
        q = QueryGen(np.random.default_rng(seed), codes, 0.5)
        return [q.next() for _ in range(40)]

    a = stream(3)
    assert a == stream(3)
    assert [k for k, _ in a] != [k for k, _ in stream(4)]
    cacheable = [kw for k, kw in a if k in _CACHEABLE]
    # a re-read asks for a sub-window of an earlier fresh window
    rereads = [kw for i, kw in enumerate(cacheable) if any(
        kw["starttime"] >= p["starttime"] and kw["endtime"] <= p["endtime"]
        and {k: v for k, v in kw.items() if "time" not in k}
        == {k: v for k, v in p.items() if "time" not in k}
        for p in cacheable[:i])]
    assert abs(len(rereads) - len(cacheable) // 2) <= 1


class _Opt:
    """A Scala ``Option`` holding a SQL metric."""

    def __init__(self, value):
        self._value = value

    def isDefined(self):
        return self._value is not None

    def get(self):
        return self

    def value(self):
        return self._value


class _Seq(list):
    def size(self):
        return len(self)

    def apply(self, i):
        return self[i]


class _Node:
    """A physical plan node as py4j shows it (class name, metrics,
    children); an in-memory scan also has its cached relation."""

    def __init__(self, kind, rows=None, files=None, children=(), cached=None):
        self.kind, self._children = kind, _Seq(children)
        self._metrics = {"numOutputRows": rows, "numFiles": files}
        self._cached = cached

    def getClass(self):
        return self

    def getSimpleName(self):
        return self.kind

    def metrics(self):
        return self

    def get(self, name):  # metrics().get(name)
        return _Opt(self._metrics[name])

    def children(self):
        return self._children

    def executedPlan(self):  # AdaptiveSparkPlanExec
        return self._children[0]

    def relation(self):
        return self

    def cacheBuilder(self):
        return self

    def cachedPlan(self):
        return self._cached


class _DF:
    def __init__(self, plan):
        self._jdf = self
        self._plan = plan

    def queryExecution(self):
        return self

    def executedPlan(self):
        return self._plan


def test_scan_walks_a_cached_plan_once_when_it_is_materialized():
    tracer = Tracer(enabled=True)
    built = _Node("FileSourceScanExec", rows=1000, files=4)
    entry = _Node("InMemoryTableScanExec", rows=50, cached=_Node(
        "AdaptiveSparkPlanExec", children=[_Node("FilterExec", children=[built])]))

    def query():
        return _DF(_Node("AdaptiveSparkPlanExec", children=[
            _Node("ProjectExec", children=[entry])]))

    tracer.record_scan(query(), 20)  # the miss: runs the file scan
    assert tracer.counts["scan.rows_read"] == 1050
    assert tracer.counts["scan.files_read"] == 4
    tracer.record_scan(query(), 20)  # a hit: reads the cache only
    assert tracer.counts["scan.rows_read"] == 1100
    assert tracer.counts["scan.files_read"] == 4
    assert tracer.counts["scan.rows_returned"] == 40
    tracer.start_region()  # a new region scans the relation afresh
    tracer.record_scan(query(), 20)
    assert tracer.counts["scan.files_read"] == 4


def test_parse_layer_metric_ids_come_from_parser_and_file_scan_nodes():
    plan = {"nodeName": "OverwriteByExpression", "metrics": [], "children": [{
        "nodeName": "MapInPandas",
        "metrics": [{"name": "time to run Python workers", "accumulatorId": 54},
                    {"name": "number of output rows", "accumulatorId": 55}],
        "children": [{
            "nodeName": "Scan binaryFile ",
            "metrics": [{"name": "number of output rows", "accumulatorId": 56},
                        {"name": "number of files read", "accumulatorId": 57}],
        }],
    }, {
        "nodeName": "Scan parquet ",
        "metrics": [{"name": "number of output rows", "accumulatorId": 60}],
    }]}
    ids = {}
    _parse_metric_ids(plan, ids)
    assert ids == {54: "python_ms", 55: "records", 56: "files"}
