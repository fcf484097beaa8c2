"""Summary statistics and the result line.

Steadiness rules (measured on a 4-core box, see README.md):

- No max anywhere: the slowest of a run's samples moved 20% between
  processes while the median did not move.
- The tail is the highest percentile with at least TAIL_BEYOND samples
  beyond it; the percentile and the sample count go out with the value.
"""

from __future__ import annotations

import json
import re
import statistics

TAIL_BEYOND = 10
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the sorted sample with TAIL_BEYOND samples
    above it. Where that sample lies below the median (fewer than
    2 * TAIL_BEYOND samples, as in a traced run's two passes) the median
    stands in, reported as percentile 50."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - TAIL_BEYOND - 1  # 0-based rank: exactly TAIL_BEYOND values above
    if 2 * (k + 1) < n:
        return median(values), 50.0, n
    return float(sorted(values)[k]), 100.0 * (k + 1) / n, n


def m(value: float, unit: str) -> dict:
    """One metric entry of the result line."""
    return {"value": float(value), "unit": unit}


def latency(samples_ms: list[float]) -> tuple[dict, str]:
    """latency_p50_ms and latency_tail_ms, and a note naming the tail."""
    value, pct, n = tail(samples_ms)
    return ({"latency_p50_ms": m(median(samples_ms), "ms"),
             "latency_tail_ms": m(value, "ms")},
            f"latency_tail_ms is p{pct:.1f} of {n} samples")


def check_metrics(metrics: dict[str, dict]) -> None:
    """Every name matches NAME_RE and every value is a finite number with a unit."""
    for name, entry in metrics.items():
        if not NAME_RE.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(entry) != {"value", "unit"} or not entry["unit"]:
            raise ValueError(f"metric {name!r} needs exactly a value and a unit")
        v = entry["value"]
        if not isinstance(v, (int, float)) or v != v or v in (float("inf"), float("-inf")):
            raise ValueError(f"metric {name!r} is not a finite number: {v!r}")


def result_line(attempted: int, failed: int, metrics: dict[str, dict]) -> str:
    """The contract line: correct, attempted, failed and metrics."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"attempted={attempted} failed={failed}")
    check_metrics(metrics)
    return json.dumps({"correct": failed == 0, "attempted": attempted,
                       "failed": failed, "metrics": metrics})
