"""Summaries shared by every workload: latency percentiles, the result
line's metric set, and validation of metric names against BENCHMARK.json."""

from __future__ import annotations

import json
import math
import statistics

TAIL_CAP = 90.0
TAIL_BEYOND = 10


def tail_percentile(n: int) -> float:
    """The highest percentile, at most TAIL_CAP, that leaves at least
    TAIL_BEYOND of ``n`` samples above it; never below the median.

    With 100 samples or more this is p90. Smaller runs report a lower
    percentile instead of a tail that rests on fewer than ten samples,
    and a run of fewer than 20 samples reports its median."""
    if n <= 0:
        raise ValueError("no samples")
    supported = 100.0 * (n - TAIL_BEYOND) / n
    return max(50.0, min(TAIL_CAP, supported))


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def latency_summary(samples: list[float]) -> dict:
    """The median and the tail percentile of ``samples``. The median
    averages the two middle samples of an even count; the nearest-rank
    p50 would be the faster of a closed loop's two passes. A run without
    samples (every operation failed) reports zeros; it is reported
    incorrect."""
    if not samples:
        return {"n": 0, "p50": 0.0, "tail_pct": 0.0, "tail": 0.0}
    pct = tail_percentile(len(samples))
    median = statistics.median(samples)
    return {
        "n": len(samples),
        "p50": median,
        "tail_pct": round(pct, 1),
        # below 20 samples the tail is the median itself
        "tail": max(percentile(samples, pct), median),
    }


def load_spec(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def spec_metric_names(spec: dict, trace: bool) -> list[str]:
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def result_metrics(spec: dict, trace: bool, values: dict[str, float]) -> dict:
    """The ``metrics`` object of the result line: exactly the metrics the
    spec lists for this mode, each with its declared unit. Raises if a
    listed metric was not measured or a measured one is not listed."""
    entries = spec["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in entries]
    missing = [n for n in names if n not in values]
    extra = sorted(set(values) - set(names))
    if missing or extra:
        raise KeyError(f"metric set differs from BENCHMARK.json: "
                       f"missing={missing} unlisted={extra}")
    out = {}
    for m in entries:
        v = values[m["name"]]
        if not isinstance(v, (int, float)) or isinstance(v, bool) \
                or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} is not a number: {v!r}")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out
