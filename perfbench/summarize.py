"""Median, quartiles and spread of the metrics of repeated benchmark runs.

    python3 perfbench/summarize.py perfbench/baseline/*.jsonl

Each input file holds one report line (the line ``run.py`` prints before
the result line) or one result line per run, and is named
``<workload>.<set>.jsonl``. The output is one JSON object:
``{workload: {set: {"runs": n, "metrics": {name: {...}}}}}`` with each
metric's unit, median, first and third quartile and spread, the distance
between the quartiles over the median (``statistics.quantiles(n=4)``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def summarize(paths: list[str]) -> dict:
    out: dict = {}
    for path in sorted(paths):
        workload, run_set = os.path.basename(path).split(".")[:2]
        with open(path) as fh:
            runs = [json.loads(line) for line in fh if line.strip()]
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        for run in runs:
            for name, m in run["metrics"].items():
                values.setdefault(name, []).append(m["value"])
                units[name] = m["unit"]
        metrics = {}
        for name, vals in values.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            metrics[name] = {
                "unit": units[name], "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else 0.0,
            }
        out.setdefault(workload, {})[run_set] = {"runs": len(runs), "metrics": metrics}
    return out


if __name__ == "__main__":
    print(json.dumps(summarize(sys.argv[1:]), indent=1))
