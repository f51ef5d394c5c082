"""Layer-boundary tracing, done from the benchmark's side of each call.

Nothing here edits the engine: the tracer wraps the calls the benchmark
makes into each layer (py4j, ``DataFrame.persist``/``cache``/``unpersist``,
``IndexCache.get``, the banks' generation-table upsert) and reads what
Spark already records (the query planning tracker, the executed plan and
its SQL metrics, and an event log parsed after the session stops).

Persist counting is always on, because the fresh-plan guard needs it.
Everything else is installed only for a traced run (``--trace 1``); the
untraced run measures the end-to-end metrics and the traced run the
per-layer ones.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

#: per-layer metric names, grouped by layer, in report order, with units
LAYER_METRICS = {
    "session": {"start_s": "s", "warmup_s": "s", "peak_rss_mb": "MB"},
    "build": {"self_s": "s", "py4j_calls": "count"},
    "catalyst": {"analysis_ms": "ms", "optimization_ms": "ms", "planning_ms": "ms"},
    "exec": {
        "jobs": "count", "stages": "count", "tasks": "count",
        "scheduler_delay_s": "s", "task_time_s": "s", "shuffle_read_mb": "MB",
        "shuffle_write_mb": "MB", "spill_mb": "MB", "gc_s": "s",
        "skew_max_over_median": "ratio",
    },
    "plan": {
        "exchanges": "count", "smj": "count", "bhj": "count",
        "python_nodes": "count", "inmemory_scans": "count",
        "pushed_filters": "count", "partition_filters": "count",
    },
    "cache": {"persist_calls": "count", "unpersist_calls": "count", "readopted": "count"},
    "index_cache": {"hits": "count", "misses": "count", "hit_ratio": "ratio",
                    "entries_built": "count"},
    "scan": {"rows_read_per_row_returned": "ratio", "files_read": "count"},
    "bank_write": {"upsert_s": "s", "bytes_written_per_input_byte": "ratio",
                   "generations_gc": "count"},
    "parse": {"files": "count", "records": "count", "s_per_file": "s"},
    "fetcher": {"windows": "count", "rows_out": "count"},
}

#: the end-to-end metric each layer should move, and on which workload
LAYER_MOVES = {
    "session": "setup_s on every workload",
    "build": "latency_p50_ms on bank_query",
    "catalyst": "latency_p50_ms on bank_query",
    "exec": "jobs/tasks/scheduler_delay_s: latency_p90_ms on bank_query; "
            "the rest: throughput_per_s on bank_ingest",
    "plan": "latency_p50_ms on bank_query",
    "cache": "latency_p50_ms on bank_query (index-cache entries persisted "
             "and evicted)",
    "index_cache": "latency_p50_ms on bank_query and bank_ingest",
    "scan": "latency_p90_ms on bank_query",
    "bank_write": "throughput_per_s on bank_ingest",
    "parse": "throughput_per_s on bank_ingest",
    "fetcher": "latency_p90_ms on bank_query",
}

_PLAN_MARKERS = {
    "exchanges": re.compile(r"\bExchange\b"),  # shuffles; not Broadcast/Reused
    "smj": re.compile(r"\bSortMergeJoin\b"),
    "bhj": re.compile(r"\bBroadcastHashJoin\b"),
    "python_nodes": re.compile(
        r"\b(\w*InPandas|\w*InArrow|ArrowEvalPython|BatchEvalPython)\b"
    ),
    "inmemory_scans": re.compile(r"\bInMemoryTableScan\b"),
    "pushed_filters": re.compile(r"PushedFilters: \[[^\]]"),
    "partition_filters": re.compile(r"PartitionFilters: \[[^\]]"),
}

_PHASES = {"analysis": "analysis_ms", "optimization": "optimization_ms",
           "planning": "planning_ms"}


class Tracer:
    """Counters and spans for one benchmark run.

    ``enabled`` False keeps only the persist counters; every other hook
    becomes a no-op so the untraced run pays nothing for them.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.counts: Counter = Counter()
        self.spans: list[list] = []  # [name, start, end, parent index, op]
        self._stack: list[int] = []
        self._undo: list = []
        self.op = -1
        #: identity of a JVM object (identityHashCode once installed)
        self._identity = id
        self._seen_caches: set = set()

    # -- installation ------------------------------------------------------
    def _patch(self, owner, name, make):
        orig = getattr(owner, name)
        setattr(owner, name, make(orig))
        self._undo.append((owner, name, orig))

    def install(self, spark) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        tr = self

        def persist_wrap(orig):
            def wrapped(df, *a, **kw):
                tr.counts["cache.persist_calls"] += 1
                if tr.enabled:
                    lvl = df._jdf.storageLevel()
                    if lvl.useMemory() or lvl.useDisk():
                        tr.counts["cache.readopted"] += 1
                return orig(df, *a, **kw)
            return wrapped

        def unpersist_wrap(orig):
            def wrapped(df, *a, **kw):
                tr.counts["cache.unpersist_calls"] += 1
                return orig(df, *a, **kw)
            return wrapped

        self._patch(DataFrame, "persist", persist_wrap)
        self._patch(DataFrame, "cache", persist_wrap)
        self._patch(DataFrame, "unpersist", unpersist_wrap)
        if not self.enabled:
            return

        self._identity = spark._jvm.System.identityHashCode
        client = spark.sparkContext._gateway._gateway_client

        def py4j_wrap(orig):
            def wrapped(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    top = tr.spans_top()
                    tr.counts[f"py4j_calls@{top}"] += 1
                    tr.counts[f"py4j_s@{top}"] += time.perf_counter() - t0
            return wrapped

        self._patch(client, "send_command", py4j_wrap)

        from obsplus_spark.sources import bank
        from obsplus_spark.sources.index_cache import IndexCache

        def get_wrap(orig):
            def wrapped(cache, t1, t2, key, gen, build, trim):
                built = []

                def counting_build(a, b):
                    built.append(1)
                    return build(a, b)

                out = orig(cache, t1, t2, key, gen, counting_build, trim)
                tr.counts["index_cache.misses" if built else "index_cache.hits"] += 1
                return out
            return wrapped

        def upsert_wrap(orig):
            def wrapped(*a, **kw):
                with tr.span("bank_write"):
                    return orig(*a, **kw)
            return wrapped

        self._patch(IndexCache, "get", get_wrap)
        self._patch(bank._GenerationTable, "upsert", upsert_wrap)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()

    def start_region(self) -> None:
        """Forget what set-up and warmup recorded; the timed region starts."""
        self.counts.clear()
        self.spans.clear()
        self._stack.clear()
        self._seen_caches.clear()

    # -- spans -------------------------------------------------------------
    def spans_top(self) -> str:
        return self.spans[self._stack[-1]][0] if self._stack else "-"

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block when tracing; always yields."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def self_seconds(self, name: str) -> float:
        """Summed self time of ``name`` spans: duration minus child spans
        minus py4j time spent while the span was on top."""
        child = defaultdict(float)
        for s in self.spans:
            if s[3] >= 0:
                child[s[3]] += s[2] - s[1]
        total = sum(s[2] - s[1] - child[i] for i, s in enumerate(self.spans)
                    if s[0] == name)
        return total - self.counts[f"py4j_s@{name}"]

    def span_seconds(self, name: str) -> float:
        return sum(s[2] - s[1] for s in self.spans if s[0] == name)

    # -- per-query plan facts ------------------------------------------------
    def record_plan(self, df) -> None:
        """Catalyst phase times and plan markers of ``df``'s query
        execution (forcing physical planning if the query has not run)."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan()
        phases = qe.tracker().phases()
        for phase, metric in _PHASES.items():
            opt = phases.get(phase)
            if opt.isDefined():
                self.counts[f"catalyst.{metric}"] += opt.get().durationMs()
        text = plan.toString()
        for metric, rx in _PLAN_MARKERS.items():
            self.counts[f"plan.{metric}"] += len(rx.findall(text))
        self.counts["plan.queries"] += 1

    def record_scan(self, df, rows_returned: int) -> None:
        """Rows and files read by the scans of ``df``'s executed plan.

        A cached relation that the timed region has not scanned before was
        materialized by this execution (an ``IndexCache`` miss builds and
        caches its frame, and the first query over it runs the file scan),
        so the file scans of its cached plan are walked too. Later scans of
        the same relation (hits) count only the in-memory scan.
        """
        if not self.enabled:
            return
        stack = [df._jdf.queryExecution().executedPlan()]
        while stack:
            node = stack.pop()
            kind = node.getClass().getSimpleName()
            if kind == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
                continue
            if kind.endswith("QueryStageExec"):
                stack.append(node.plan())
                continue
            if kind in ("FileSourceScanExec", "InMemoryTableScanExec"):
                metrics = node.metrics()
                rows = metrics.get("numOutputRows")
                if rows.isDefined():
                    self.counts["scan.rows_read"] += rows.get().value()
                files = metrics.get("numFiles")
                if files.isDefined():
                    self.counts["scan.files_read"] += files.get().value()
            if kind == "InMemoryTableScanExec":
                builder = node.relation().cacheBuilder()
                key = self._identity(builder)
                if key not in self._seen_caches:
                    self._seen_caches.add(key)
                    stack.append(builder.cachedPlan())
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
        self.counts["scan.rows_returned"] += rows_returned

    # -- reporting ----------------------------------------------------------
    def layer_metrics(self, exec_metrics: dict) -> dict[str, float]:
        """Every per-layer metric, normalised per measured query where the
        count is per-query (``plan.*``, ``catalyst.*``)."""
        c = self.counts
        n_plans = max(c["plan.queries"], 1)
        hits, misses = c["index_cache.hits"], c["index_cache.misses"]
        out = {
            "build.self_s": self.self_seconds("build"),
            "build.py4j_calls": c["py4j_calls@build"],
            "index_cache.hit_ratio": hits / (hits + misses) if hits + misses else 0.0,
            "index_cache.entries_built": misses,
            "scan.rows_read_per_row_returned":
                c["scan.rows_read"] / max(c["scan.rows_returned"], 1),
            "bank_write.upsert_s": self.span_seconds("bank_write"),
        }
        for metric in _PHASES.values():
            out[f"catalyst.{metric}"] = c[f"catalyst.{metric}"] / n_plans
        for metric in _PLAN_MARKERS:
            out[f"plan.{metric}"] = c[f"plan.{metric}"] / n_plans
        out.update(exec_metrics)
        for layer, metrics in LAYER_METRICS.items():
            for metric in metrics:  # the rest are plain counters
                out.setdefault(f"{layer}.{metric}", c[f"{layer}.{metric}"])
        return out


def _parse_metric_ids(info: dict, out: dict[int, str]) -> None:
    """Map the SQL-metric accumulator ids of a plan (``sparkPlanInfo``) that
    make up the parse layer: rows out of binaryFile scans (one per file),
    and rows out of and time in Python-runner nodes (the parsers)."""
    name = info.get("nodeName", "")
    python = _PLAN_MARKERS["python_nodes"].search(name) is not None
    for m in info.get("metrics", []):
        if m["name"] == "number of output rows" and name.startswith("Scan binaryFile"):
            out[m["accumulatorId"]] = "files"
        elif python and m["name"] == "number of output rows":
            out[m["accumulatorId"]] = "records"
        elif python and m["name"] == "time to run Python workers":
            out[m["accumulatorId"]] = "python_ms"
    for child in info.get("children", []):
        _parse_metric_ids(child, out)


def parse_event_log(log_dir: Path, region: str) -> dict[str, float]:
    """Job, stage and task figures, and the parse layer's SQL metrics, for
    jobs tagged ``perfbench.region`` = ``region``, from the Spark event log
    written while the session ran."""
    jobs: set[int] = set()
    stage_job: dict[int, int] = {}
    tasks: dict[int, list[float]] = defaultdict(list)
    agg = Counter()
    parse_ids: dict[int, str] = {}
    files = sorted(p for p in log_dir.rglob("*")
                   if p.is_file() and not p.name.startswith((".", "appstatus")))
    for path in files:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _parse_metric_ids(ev.get("sparkPlanInfo") or {}, parse_ids)
                elif kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("perfbench.region") == region:
                        jobs.add(ev["Job ID"])
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerTaskEnd":
                    if ev.get("Stage ID") not in stage_job:
                        continue
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    delay = dur - run_ms - m.get("Executor Deserialize Time", 0) \
                        - m.get("Result Serialization Time", 0)
                    if info.get("Getting Result Time", 0):
                        delay -= info["Finish Time"] - info["Getting Result Time"]
                    agg["tasks"] += 1
                    agg["delay_ms"] += max(delay, 0)
                    agg["run_ms"] += run_ms
                    agg["gc_ms"] += m.get("JVM GC Time", 0)
                    agg["spill"] += m.get("Memory Bytes Spilled", 0) \
                        + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    agg["sread"] += sr.get("Remote Bytes Read", 0) \
                        + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    agg["swrite"] += sw.get("Shuffle Bytes Written", 0)
                    tasks[ev["Stage ID"]].append(run_ms)
                    for acc in info.get("Accumulables", []):
                        what = parse_ids.get(acc.get("ID"))
                        if what:
                            agg[what] += float(acc.get("Update") or 0)
    skew = [
        max(v) / statistics.median(v)
        for v in tasks.values()
        if len(v) >= 2 and statistics.median(v) > 0
    ]
    mb = 1024 * 1024
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(tasks),
        "exec.tasks": agg["tasks"],
        "exec.scheduler_delay_s": agg["delay_ms"] / 1000,
        "exec.task_time_s": agg["run_ms"] / 1000,
        "exec.shuffle_read_mb": agg["sread"] / mb,
        "exec.shuffle_write_mb": agg["swrite"] / mb,
        "exec.spill_mb": agg["spill"] / mb,
        "exec.gc_s": agg["gc_ms"] / 1000,
        "exec.skew_max_over_median": max(skew) if skew else 1.0,
        "parse.files": agg["files"],
        "parse.records": agg["records"],
        "parse.s_per_file": agg["python_ms"] / 1000 / agg["files"] if agg["files"] else 0.0,
    }
