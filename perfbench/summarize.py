"""Summarize the results in ``.perfbench_work/results``.

For each workload and metric: the number of runs, the median, and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), separately for untraced and
traced runs, and the traced median against the untraced one.

    python3 perfbench/summarize.py [results_dir]
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

RESULTS = Path(__file__).resolve().parent.parent / ".perfbench_work" / "results"


def main(argv: list[str]) -> int:
    root = Path(argv[0]) if argv else RESULTS
    vals: dict = defaultdict(lambda: defaultdict(list))
    for f in sorted(root.glob("*.json")):
        doc = json.loads(f.read_text())
        rep, res = doc["report"], doc["result"]
        key = (rep["workload"], rep["trace"])
        vals[key]["failed"].append(res["failed"])
        for name, m in res["metrics"].items():
            vals[key][name].append(m["value"])
    for (workload, trace), metrics in sorted(vals.items()):
        print(f"{workload} trace={trace} runs={len(metrics['failed'])} "
              f"failed={sum(metrics['failed'])}")
        for name, v in metrics.items():
            if name == "failed":
                continue
            med = statistics.median(v)
            spread = ""
            if len(v) >= 2 and med:
                q = statistics.quantiles(v, n=4)
                spread = f"  iqr/median {(q[2] - q[0]) / med:.3f}"
            line = f"  {name:40s} median {med:12.4f}{spread}"
            base = vals.get((workload, 0), {}).get(name.removeprefix("trace."))
            if trace and name.startswith("trace.") and base:
                b = statistics.median(base)
                line += f"  untraced {b:.4f} ({(med - b) / b:+.1%})"
            print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
