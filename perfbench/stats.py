"""Pure helpers: percentiles, interval unions, span self times and the
failure ratio. No Spark here, so the logic is unit-testable alone."""

from __future__ import annotations

import math
from collections import defaultdict


def median(values) -> float:
    vals = sorted(values)
    if not vals:
        raise ValueError("median of no values")
    mid = len(vals) // 2
    return vals[mid] if len(vals) % 2 else (vals[mid - 1] + vals[mid]) / 2


def percentile(values, q: float) -> tuple[float, int]:
    """(q-th percentile by linear interpolation between order
    statistics, sample count n) — the same rule as numpy's default."""
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("percentile of no values")
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo), n


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs of start, end),
    optionally clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Self time of every span: its duration minus the part covered by
    its direct children. Children running in parallel on other threads
    are counted once (union), so a pool's parent never goes negative."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children[s["id"]], s["start"], s["end"])
        for s in spans
    }


def layer_self_times(spans) -> dict[str, float]:
    """Σ self time per layer."""
    own = self_times(spans)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["layer"]] += own[s["id"]]
    return dict(out)


def subtree_self_sum(spans, root_id: int) -> float:
    """Σ self time over ``root_id`` and all its descendants."""
    own = self_times(spans)
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    total, todo = 0.0, [root_id]
    while todo:
        sid = todo.pop()
        total += own[sid]
        todo.extend(kids[sid])
    return total


def fail_ratio(attempted: int, failed: int) -> float:
    """Failed or mismatched objects over objects attempted."""
    if attempted <= 0:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..{attempted}")
    return failed / attempted
