"""Median, the tail rule, and span self time."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(samples: list[tuple[float, object]], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile of ``samples`` with ``beyond`` independent
    units above it: the value with exactly ``beyond`` units among the
    samples above it, whatever their count. ``samples`` are
    ``(value, unit)``; events that completed in one micro-batch share a
    unit.

    Returns ``(value, percentile, units above)``. Samples from ``beyond``
    units or fewer hold no such value; then the maximum is returned, at
    percentile 100, with fewer than ``beyond`` units above it."""
    xs = sorted(samples, key=lambda s: s[0], reverse=True)
    units: set = set()
    for i, (v, u) in enumerate(xs):
        if len(units) == beyond:
            return v, 100.0 * (len(xs) - i) / len(xs), beyond
        units.add(u)
    return (xs[0][0] if xs else 0.0), 100.0, 0


def self_times(spans: list[dict]) -> dict[str, list[float]]:
    """Per span name, each span's duration minus the part of it that its
    child spans cover (children are spans whose ``parent`` is its id)."""
    children: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, list[float]] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.setdefault(s["name"], []).append(max(0.0, hi - lo - covered))
    return out
