"""Summaries and digests the benchmark reports."""

from __future__ import annotations

import hashlib
import math
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def op_wall(op: dict) -> float:
    """An op's wall for the latency figures: in a traced run, the wall of
    its untraced twin where it has one."""
    return op.get("untraced_wall", op["wall"])


def gmean(values: list[float]) -> float:
    """Geometric mean: every operation type weighs the same in it, however
    long it takes, so a change to any of them moves it proportionally."""
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else 0.0


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has ``min_beyond`` samples above
    it, as ``(value, percentile, n)``. ``value`` is the sample at that
    rank (nearest-rank: the ``n - min_beyond``-th smallest). With fewer
    than ``min_beyond + 1`` samples there is no such percentile and the
    maximum is reported with percentile 100."""
    n = len(values)
    if n == 0:
        return 0.0, 0.0, 0
    ordered = sorted(values)
    if n <= min_beyond:
        return ordered[-1], 100.0, n
    rank = n - min_beyond  # 1-based rank of the reported sample
    return ordered[rank - 1], 100.0 * rank / n, n


def _canon(value) -> str:
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return f"{round(value, 6):.6f}"
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(_canon(v) for v in value) + "]"
    return repr(value)


def digest(rows) -> tuple[int, int]:
    """Order-independent digest of a result: ``(row count, sum of row
    hashes mod 2**64)``. Floats are rounded to 6 decimals first, so the
    digest ignores summation-order noise below that."""
    total = 0
    n = 0
    for row in rows:
        h = hashlib.blake2b(_canon(tuple(row)).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
        n += 1
    return n, total
