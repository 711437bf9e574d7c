"""Summary statistics: every rep is kept; summaries are medians and
quartiles (never min-of-N), and a latency tail is the highest
percentile that has at least ten samples beyond it."""

from __future__ import annotations

import json
import math
import statistics

MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def quartiles(values) -> tuple[float, float, float]:
    """(q1, median, q3); a single value is its own quartiles."""
    vals = list(values)
    if len(vals) < 2:
        return (float(vals[0]),) * 3
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return float(q1), float(q2), float(q3)


def tail_percentile(n: int) -> float | None:
    """Highest percentile with at least MIN_BEYOND of n samples above
    it: 100 * (1 - MIN_BEYOND / n).  It moves smoothly with n, so runs
    with a few more or fewer samples report nearly the same percentile.
    None below 2 * MIN_BEYOND samples, where it would fall under the
    median."""
    if n < 2 * MIN_BEYOND:
        return None
    return 100.0 * (1.0 - MIN_BEYOND / n)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    vals = sorted(values)
    if not vals:
        raise ValueError("no samples")
    k = (len(vals) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (k - lo))


def latency_summary(samples_ms) -> dict:
    """median, quartiles, and the tail the sample count supports."""
    vals = list(samples_ms)
    q1, q2, q3 = quartiles(vals)
    p = tail_percentile(len(vals))
    # below 20 samples no percentile has 10 beyond it: fall back to the
    # median, which is where the rule starts at 20
    tail = percentile(vals, 50.0 if p is None else p)
    return {"n": len(vals), "p50": q2, "q1": q1, "q3": q3,
            "tail_pct": p, "tail": tail}


def tail_label(p: float | None) -> str:
    if p is None:
        return "p50 (fewer than 20 samples)"
    return f"p{p:.1f}"


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The final stdout line: compact, one JSON object."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }, separators=(",", ":"))
