"""Shared pieces of the workloads: session start, host facts, the
fresh-plan guard, percentiles and row comparison."""

from __future__ import annotations

import math
import os
import platform
import resource
import time
from pathlib import Path

#: driver (= local executor) heap; kept well below the RAM of a small host
DRIVER_MEMORY = "2g"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1) of ``values``."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def start_session(root: Path, work: Path, traced: bool):
    """Start the engine's session with every file it writes under ``work``.

    Python workers import the engine, so the checkout root goes on
    ``PYTHONPATH`` before the JVM (which spawns them) starts.
    """
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local", work / "warehouse"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (launcher and driver): no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
        })
    from obsplus_spark import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_facts(spark) -> dict:
    """Core count, RAM, a CPU spin reading and the software versions."""
    import pyspark

    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    spin = time.perf_counter() - t0
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "spin_s_per_2M": round(spin, 4),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
    }


def cpu_ticks() -> list[int]:
    """Host-wide CPU tick counters (user, nice, system, idle, iowait, irq,
    softirq, steal) from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the JVM it started."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    pid = spark._jvm.ProcessHandle.current().pid()
    jvm = 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024
    return own + jvm


class ReusedPlanError(RuntimeError):
    """A timed execution reused a plan whose construction persisted."""


class FreshPlanGuard:
    """Make the anti-caching rule mechanical.

    Every timed execution must get a freshly built plan. A plan object
    whose construction called ``persist``/``cache`` may not be executed
    a second time: its later runs would read the intermediates the first
    run materialized. ``admit`` raises :class:`ReusedPlanError` on such a
    reuse; it keeps a reference to each admitted plan so that object ids
    are not recycled.
    """

    def __init__(self):
        self._seen: dict[int, tuple[object, int]] = {}

    def admit(self, df, persisted_at_build: int) -> None:
        prev = self._seen.get(id(df))
        if prev is not None and prev[1] > 0:
            raise ReusedPlanError(
                f"plan executed again after its construction persisted "
                f"{prev[1]} frame(s)"
            )
        self._seen[id(df)] = (df, persisted_at_build)


def canon(rows, cols: list[str]) -> list[tuple]:
    """Rows as sorted tuples with columns in name order (NaN as a string)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))
