"""Summary statistics and the result line of one benchmark run."""
import json
import math

TAIL_PERCENTILES = (99, 95, 90)
MIN_BEYOND = 10


def tail(values):
    """The highest of p99/p95/p90 with at least 10 values beyond it.

    Percentiles use the nearest-rank rule: the p-th percentile of n sorted
    values is the one at rank ceil(p/100 * n), and the values ranked after
    it lie beyond it. Returns (value, percentile, count beyond). When no
    percentile has 10 values beyond it, returns p90 with the count of
    values beyond it, which is then fewer than 10.
    """
    s = sorted(values)
    if not s:
        raise ValueError("tail of no values")
    n = len(s)
    for p in TAIL_PERCENTILES:
        rank = math.ceil(p * n / 100)
        if n - rank >= MIN_BEYOND:
            return s[rank - 1], p, n - rank
    rank = math.ceil(90 * n / 100)
    return s[rank - 1], 90, n - rank


def result_line(correct, attempted, failed, metrics):
    """The run's last stdout line: `metrics` maps name -> (value, unit)."""
    if not isinstance(attempted, int) or attempted < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(failed, int) or not 0 <= failed <= attempted:
        raise ValueError("failed must be a whole number in [0, attempted]")
    body = {name: {"value": float(v), "unit": unit}
            for name, (v, unit) in metrics.items()}
    for name, m in body.items():
        if not math.isfinite(m["value"]):
            raise ValueError(f"metric {name} is not finite")
    return json.dumps({"correct": bool(correct), "attempted": attempted,
                       "failed": failed, "metrics": body})
