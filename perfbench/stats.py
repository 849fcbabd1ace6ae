"""Summary statistics and the metric record the benchmark prints."""

from __future__ import annotations

import math
import re
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


class TooFewSamples(ValueError):
    pass


def percentile(values, q: float) -> float:
    """The q-th percentile (0 < q < 100, linear interpolation). Refuses
    a percentile with fewer than MIN_BEYOND samples beyond it, which
    would rest on a handful of outliers."""
    vals = sorted(values)
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    beyond = len(vals) * (100 - q) / 100
    if beyond < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} of {len(vals)} samples has {beyond:g} beyond it (< {MIN_BEYOND})"
        )
    pos = (len(vals) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def highest_percentile(values, candidates=(99, 95, 90, 75)) -> tuple[float, float] | None:
    """(q, value) for the highest candidate percentile the samples
    support, or None when not even the lowest one is supported."""
    for q in candidates:
        try:
            return q, percentile(values, q)
        except TooFewSamples:
            continue
    return None


def median(values) -> float:
    return statistics.median(values)


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def check_metrics(metrics: dict) -> None:
    """Every metric has a well-formed name, a unit and a finite number."""
    for name, m in metrics.items():
        if not NAME_RE.fullmatch(name) or len(name) > 64:
            raise ValueError(f"bad metric name {name!r}")
        if set(m) != {"value", "unit"} or not m["unit"]:
            raise ValueError(f"metric {name} needs exactly a value and a unit: {m}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} has non-numeric value {v!r}")
