#!/usr/bin/env python3
"""Median and quartiles per workload and metric over saved runs.

Usage: python3 perfbench/summarize.py RUN_OUTPUT...

Each argument is the saved stdout of one ``perfbench/run.py`` run. Prints
one markdown table row per (workload, metric): run count, median, first
and third quartile (``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median``.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[str, dict]:
    with open(path) as f:
        lines = f.read().strip().splitlines()
    info = json.loads(lines[-2].split(" ", 1)[1])
    result = json.loads(lines[-1])
    if not result["correct"]:
        raise SystemExit(f"{path}: run reported failures: {info['errors']}")
    return info["workload"], {k: v["value"] for k, v in result["metrics"].items()}


def main(paths: list[str]) -> None:
    values: dict[tuple[str, str], list[float]] = {}
    for path in paths:
        workload, metrics = load(path)
        for name, v in metrics.items():
            values.setdefault((workload, name), []).append(v)
    print("| workload | metric | runs | median | q1 | q3 | spread |")
    print("| --- | --- | --- | --- | --- | --- | --- |")
    for (workload, name), vals in sorted(values.items()):
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"| {workload} | {name} | {len(vals)} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} |")


if __name__ == "__main__":
    main(sys.argv[1:])
