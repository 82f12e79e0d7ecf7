"""Order statistics and correctness scores for benchmark samples.

Pure functions, no Spark.  Also a small CLI that summarizes the result
lines of several benchmark runs:

    python3 perfbench/benchstats.py run1.out run2.out ...

reads the last JSON line of each file and prints, per metric, the median,
the quartile spread (Q3 - Q1) / median and the sample count.
"""

from __future__ import annotations

import json
import math
import statistics
import sys
from collections.abc import Iterable, Mapping

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    return xs[_rank(p, len(xs)) - 1]


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (rounded before
    the ceiling, so 90% of 100 is rank 90, not 91)."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def supported_tail(values: Iterable[float], beyond: int = 10) -> dict:
    """The highest percentile that has at least ``beyond`` samples above it,
    with its value and the sample count.  When the count supports none of
    TAIL_PERCENTILES, the maximum is reported as p100."""
    xs = list(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= beyond:
            return {"p": p, "value": percentile(xs, p), "n": n}
    return {"p": 100.0, "value": max(xs), "n": n}


def quartile_spread(values: Iterable[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)`` gives
    them.  0 when the median is 0 and the quartiles agree."""
    xs = list(values)
    q1, med, q3 = statistics.quantiles(xs, n=4)
    if med == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(med)


def pairwise_f1(pred: Mapping[str, str], truth: Mapping[str, object]) -> float:
    """Pairwise F1 of a clustering against truth labels, from the
    contingency table (no pair enumeration).

    ``pred`` maps record id -> cluster id, ``truth`` record id -> entity id.
    A record missing from ``pred`` is a singleton (the clusters table only
    holds records that appear in some link); a ``pred`` id missing from
    ``truth`` is an error.  A pair is predicted when both records share a
    cluster, true when both share an entity.
    """
    unknown = set(pred) - set(truth)
    if unknown:
        raise ValueError(f"{len(unknown)} clustered ids are not input ids")

    def pairs(counts: Iterable[int]) -> int:
        return sum(c * (c - 1) // 2 for c in counts)

    cells: dict[tuple, int] = {}
    by_pred: dict = {}
    by_truth: dict = {}
    for rid, ent in truth.items():
        cl = pred.get(rid, (None, rid))  # singleton: a key no cluster id equals
        cells[(cl, ent)] = cells.get((cl, ent), 0) + 1
        by_pred[cl] = by_pred.get(cl, 0) + 1
        by_truth[ent] = by_truth.get(ent, 0) + 1
    tp = pairs(cells.values())
    denom = pairs(by_pred.values()) + pairs(by_truth.values())
    return 1.0 if denom == 0 else 2 * tp / denom


def summarize(results: list[dict]) -> dict[str, dict]:
    """Per metric: median, quartile spread and n over result lines."""
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(float(m["value"]))
            units[name] = m["unit"]
    out = {}
    for name, xs in values.items():
        out[name] = {
            "median": statistics.median(xs),
            "spread": quartile_spread(xs) if len(xs) >= 2 else None,
            "n": len(xs),
            "unit": units[name],
        }
    return out


def _last_json_line(path: str) -> dict:
    with open(path) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    return json.loads(lines[-1])


if __name__ == "__main__":
    rows = [_last_json_line(p) for p in sys.argv[1:]]
    bad = sum(not r["correct"] for r in rows)
    for name, s in summarize(rows).items():
        spread = "n/a" if s["spread"] is None else f"{s['spread']:.4f}"
        print(f"{name:28s} median={s['median']:<14.6g} spread={spread:<8s} "
              f"n={s['n']} {s['unit']}")
    print(f"runs={len(rows)} incorrect={bad}")
