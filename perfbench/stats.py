"""The benchmark's arithmetic, kept free of Spark so it can be unit-tested.

Every end-to-end timing is reduced here: per-query medians, their
floored geometric mean, the median and tail of all executions, the share
of executions that verified, and the seeded query order.
"""

from __future__ import annotations

import math
import random
import re

GEOMEAN_FLOOR_S = 1e-3
TAIL_MIN_BEYOND = 10
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def median(xs) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has ``min_beyond`` samples above
    it: the order statistic at index ``n - 1 - min_beyond``. Returns
    (value, percentile, n). With too few samples for that, the median
    stands in, so the tail never rests on a handful of samples."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    k = n - 1 - min_beyond
    if k < (n - 1) // 2:
        return median(s), 50.0, n
    return s[k], 100.0 * (k + 1) / n, n


def geomean(values, floor: float = GEOMEAN_FLOOR_S) -> float:
    """Geometric mean with each value floored at ``floor``, so a query
    that rounds to zero cannot zero the product."""
    vals = list(values)
    if not vals:
        raise ValueError("geomean of no values")
    return math.exp(sum(math.log(max(v, floor)) for v in vals) / len(vals))


def ok_frac(n_ok: int, n_attempted: int) -> float:
    """Share of attempted executions that completed and verified. The base
    is every attempt, failed ones included."""
    if n_attempted <= 0:
        raise ValueError("no executions attempted")
    return n_ok / n_attempted


def pass_orders(ids, seed: int, n_passes: int) -> list[list[str]]:
    """One permutation of ``ids`` per pass, all drawn from ``seed``."""
    rng = random.Random(seed)
    out = []
    for _ in range(n_passes):
        order = list(ids)
        rng.shuffle(order)
        out.append(order)
    return out


def pass_count(seconds: float, pass_s: float, min_passes: int) -> int:
    """How many passes of ``pass_s`` seconds fill ``seconds``, at least
    ``min_passes``."""
    return max(min_passes, round(seconds / pass_s))


def family(qid: str) -> str:
    """The query-id prefix a per-family split is keyed on (``q`` for the
    TPC-H family ``q2_...`` to ``q22_...``)."""
    head = qid.split("_", 1)[0]
    return "q" if re.fullmatch(r"q\d+", head) else head


def end_to_end(samples: dict[str, list[float]], pass_walls: list[float],
               n_ok: int, n_attempted: int) -> dict[str, float]:
    """Reduce one run's timed executions to the end-to-end figures."""
    flat = [t for ts in samples.values() for t in ts]
    tail_s, tail_pct, n_ops = tail(flat)
    return {
        "wall_s": median(pass_walls),
        "geomean_s": geomean(median(ts) for ts in samples.values() if ts),
        "query_p50_s": median(flat),
        "query_tail_s": tail_s,
        "query_tail_pct": tail_pct,
        "n_ops": n_ops,
        "ok_frac": ok_frac(n_ok, n_attempted),
    }
