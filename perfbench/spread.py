#!/usr/bin/env python3
"""Median and spread of each metric over several runs.

    python3 perfbench/spread.py run1.out run2.out ...

Each file is one run's standard output; its last line is the summary. For
every metric this prints the median and the interquartile distance as a
share of the median — the spread that ``BENCHMARK.json``'s bounds are
compared with — plus how many runs were incorrect.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def main(paths: list[str]) -> int:
    values: dict[str, list[float]] = defaultdict(list)
    incorrect = 0
    for path in paths:
        with open(path) as fh:
            summary = json.loads(fh.read().splitlines()[-1])
        incorrect += not summary["correct"]
        for name, m in summary["metrics"].items():
            values[name].append(m["value"])
    print(f"runs={len(paths)} incorrect={incorrect}")
    for name, xs in values.items():
        spread = f"{stats.relative_spread(xs):.3f}" if len(xs) >= 2 else "n/a"
        print(f"{name:28s} median={stats.median(xs):<12.5g} spread={spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
