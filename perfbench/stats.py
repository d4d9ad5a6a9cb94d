"""Statistics and the result line of the benchmark."""

from __future__ import annotations

import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(xs) -> float:
    return statistics.median(xs)


def quartiles(xs) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(xs, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def relative_spread(xs) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def percentile(xs, q: float) -> float:
    """Linear-interpolation percentile, ``q`` in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def high_percentile(xs, candidates=(0.99, 0.95, 0.9, 0.75, 0.5), beyond: int = 10):
    """The highest candidate percentile with at least ``beyond`` samples
    above it, as ``(q, value)``; ``None`` when even the lowest candidate
    has fewer."""
    n = len(xs)
    for q in candidates:
        # samples ranked above the interpolation point q·(n-1)
        if n - 1 - math.floor(q * (n - 1)) >= beyond:
            return q, percentile(xs, q)
    return None


def summary_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    """The final output line: ``{"correct", "attempted", "failed", "metrics"}``
    with every metric as ``{"value", "unit"}``. Refuses malformed names,
    units and non-finite values."""
    if attempted < 1 or failed < 0 or failed > attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name: {name!r}")
        if not UNIT_RE.match(unit):
            raise ValueError(f"bad unit for {name}: {unit!r}")
        value = float(value)
        if not math.isfinite(value):
            raise ValueError(f"non-finite value for {name}: {value}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": out},
        separators=(",", ":"),
    )
