"""Pure helpers: the tail-percentile rule, span self time and the
order-insensitive result fingerprint.  No Spark here, so the self-tests
in ``test_stats.py`` run without a JVM."""

from __future__ import annotations

import hashlib
import math

#: calls that must lie beyond a reported tail percentile
TAIL_MIN_BEYOND = 10


def tail_percentile(n_calls: int) -> int | None:
    """The highest whole percentile with at least
    :data:`TAIL_MIN_BEYOND` of ``n_calls`` samples beyond it, or None
    when that percentile would not lie above the median."""
    if n_calls <= 0:
        return None
    p = math.floor(100 * (1 - TAIL_MIN_BEYOND / n_calls) + 1e-9)
    return p if p > 50 else None


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that
    its children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def fingerprint(columns, rows) -> str:
    """Order-insensitive digest of a result, under the engine's
    bit-faithful comparison rules (``tests/oracle.py``: columns sorted
    by name, floats by IEEE bits, rows as a sorted multiset)."""
    from tests.oracle import rowset

    names, vals = rowset(list(columns), [tuple(r) for r in rows])
    return hashlib.sha256(repr((names, vals)).encode()).hexdigest()[:16]
