"""perfbench — the repository benchmark.

Runs one seeded workload on ``local[<nproc>]`` in a single process with a
single client, driving the engine through its public surface
(``EventBank``/``WaveBank``, ``Fetcher`` and ``update_*bank_from_files``),
checks its outputs outside the timed region, and prints one JSON object as
its last line of standard output::

    python3 perfbench/run.py --workload bank_query --seed 1 --seconds 20 --trace 0

Workloads (see ``perfbench/workloads.py`` and ``BENCHMARK.json``):
``bank_query`` and ``bank_ingest``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same work with the layer tracing of
``perfbench/trace.py`` installed and reports the per-layer metrics, among
them ``trace.*``: the end-to-end values measured with tracing on. The line
before the result is a report with the host facts, sample counts and
failures. Every run also writes both lines to
``.perfbench_work/results``, where ``perfbench/summarize.py`` reports
medians, spreads and the traced vs untraced difference. Everything a run
writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "throughput_per_s": "1/s",
}


def _stop(spark) -> None:
    """Stop the session and the JVM the session started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    t_run = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bank_query", "bank_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "obsplus_spark" / "__init__.py").is_file():
        print(f"perfbench: engine sources not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench.common import (
        cpu_ticks, host_facts, peak_rss_mb, percentile, start_session, steal_share,
    )
    from perfbench.trace import LAYER_METRICS, LAYER_MOVES, Tracer, parse_event_log
    from perfbench.workloads import WORKLOADS, Run

    # a terminated run still stops its JVM (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    traced = args.trace == 1
    work = WORK / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tracer = Tracer(traced)
    ticks = cpu_ticks()
    try:
        t0 = time.perf_counter()
        spark = start_session(ROOT, work, traced)
        spark.range(1).count()
        start_s = time.perf_counter() - t0
        try:
            facts = host_facts(spark)
            tracer.install(spark)
            run = Run(spark, args.seed, args.seconds, work, tracer)
            try:
                out = WORKLOADS[args.workload](run)
            finally:
                tracer.uninstall()
            rss = peak_rss_mb(spark)
        finally:
            t_stop = time.perf_counter()
            _stop(spark)
            stop_s = time.perf_counter() - t_stop
        exec_metrics = parse_event_log(work / "eventlog", "timed") if traced else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    facts["cpu_steal_share"] = round(steal_share(ticks, cpu_ticks()), 4)
    lat_ms = [x * 1000 for x in out["latencies"]]
    e2e = {
        "setup_s": start_s + out["setup_s"] + out["warmup_s"],
        "latency_p50_ms": percentile(lat_ms, 0.5),
        "latency_p90_ms": percentile(lat_ms, 0.9),
        "throughput_per_s": out["throughput_per_s"],
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": facts, "samples": len(lat_ms),
        "error_rate": run.failed / run.attempted,
        "setup_parts_s": {"session_start": round(start_s, 3),
                          "data_median": round(out["setup_s"], 3),
                          "warmup": round(out["warmup_s"], 3)},
        "stop_s": round(stop_s, 3),
        "wall_s": round(time.perf_counter() - t_run, 3),
        **run.report, "errors": run.errors,
    }
    if traced:
        metrics = tracer.layer_metrics(exec_metrics)
        metrics.update({
            "session.start_s": start_s,
            "session.warmup_s": out["warmup_s"],
            "session.peak_rss_mb": rss,
        })
        metrics.update({f"trace.{k}": v for k, v in e2e.items()})
        units = {f"{layer}.{m}": u for layer, ms in LAYER_METRICS.items()
                 for m, u in ms.items()}
        units.update({f"trace.{k}": u for k, u in E2E_UNITS.items()})
        metrics = {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()}
        report["layer_moves"] = LAYER_MOVES
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    stem = WORK / "results" / f"{args.workload}-{args.seed}-{os.getpid()}-trace{args.trace}"
    stem.parent.mkdir(exist_ok=True)
    stem.with_suffix(".json").write_text(
        json.dumps({"report": report, "result": result}, indent=1))
    if traced:
        stem.with_suffix(".spans.jsonl").write_text(
            "".join(json.dumps(s) + "\n" for s in tracer.spans))
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
