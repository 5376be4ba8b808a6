"""Order statistics and interval arithmetic shared by the benchmark and
its traced run. Pure functions, no Spark."""

from __future__ import annotations

import math

#: a tail percentile is reported only with at least this many samples
#: beyond it, so one slow operation cannot set it alone
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """The highest percentile that still has ``beyond`` samples above it.

    With ``n`` samples that is the ``beyond + 1``-th largest one, the
    nearest-rank ``p = 100 * (n - beyond) / n`` percentile. Returns
    ``{"value", "percentile", "samples", "beyond"}``; raises when ``n``
    leaves no sample with that many beyond it."""
    n = len(values)
    if n <= beyond:
        raise ValueError(
            f"{n} samples: a tail needs more than {beyond} (none would have "
            f"{beyond} samples beyond it)"
        )
    s = sorted(values)
    rank = n - beyond  # 1-based nearest rank
    return {
        "value": s[rank - 1],
        "percentile": math.floor(1000.0 * rank / n) / 10.0,
        "samples": n,
        "beyond": n - rank,
    }


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals; empty and inverted intervals cover nothing."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(
    span: tuple[float, float], children: list[tuple[float, float]]
) -> float:
    """A span's duration minus the part of it its children cover. Children
    are clipped to the span, and overlapping children count once."""
    s, e = span
    clipped = [(max(cs, s), min(ce, e)) for cs, ce in children]
    return (e - s) - union_length(clipped)
