"""Arithmetic shared by the benchmark and its tests: medians, the tail
rule, paired tracing overhead, span self time and the metric-name
format."""

from __future__ import annotations

import re
import statistics

# A metric name: starts with a letter or digit, then letters, digits,
# ``_``, ``.`` or ``-``; at most 64 characters.
METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# The tail is read at the highest percentile that still has this many
# samples beyond it.
TAIL_BEYOND = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name: {name!r}")
    return name


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The sample at the highest percentile with at least ``beyond``
    samples above it: ``(value, percentile, n)``.

    With n samples sorted ascending that is the one at index
    ``n - beyond - 1``; its percentile is the share of samples at or
    below it. Fewer than ``beyond + 1`` samples support no tail.
    """
    n = len(values)
    if n <= beyond:
        raise ValueError(f"{n} samples support no tail with {beyond} beyond it")
    idx = n - beyond - 1
    return sorted(values)[idx], 100.0 * (idx + 1) / n, n


def paired_overheads(passes: list[tuple[bool, float]]) -> list[float]:
    """Traced minus untraced wall time of each pair of adjacent passes,
    given ``(traced, wall_s)`` in run order: passes 1-2, 3-4, ..."""
    out = []
    for (traced_a, a), (traced_b, b) in zip(passes[::2], passes[1::2]):
        if traced_a == traced_b:
            raise ValueError("a pair needs one traced and one untraced pass")
        out.append(b - a if traced_b else a - b)
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once, and
    only inside the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None:
            lo, hi = max(s["start"], parent["start"]), min(s["end"], parent["end"])
            if hi > lo:
                children.setdefault(parent["id"], []).append((lo, hi))
    out = {}
    for s in spans:
        covered, reach = 0.0, float("-inf")
        for lo, hi in sorted(children.get(s["id"], [])):
            lo = max(lo, reach)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
