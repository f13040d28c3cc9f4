"""Self-tests of the benchmark's pure functions.

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats  # noqa: E402


def test_tail_percentile_keeps_ten_calls_beyond():
    for n in range(21, 400):
        p = stats.tail_percentile(n)
        assert p is not None and p > 50
        assert n * (1 - p / 100) >= 10 - 1e-9
        assert n * (1 - (p + 1) / 100) < 10


def test_tail_percentile_needs_a_sample_above_the_median():
    assert stats.tail_percentile(0) is None
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(20) is None
    assert stats.tail_percentile(21) == 52
    assert stats.tail_percentile(100) == 90


def test_self_time_subtracts_covered_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},  # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # past the end
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.5},
    ]
    self_s = stats.self_times(spans)
    assert self_s[0] == 10.0 - 4.0 - 1.0
    assert self_s[1] == 2.0
    assert self_s[2] == 3.0 - 1.0
    assert self_s[3] == 3.0
    assert self_s[4] == 1.0


def test_self_time_of_a_leaf_is_its_duration():
    spans = [{"id": 0, "parent": None, "start": 1.0, "end": 1.5}]
    assert stats.self_times(spans) == {0: 0.5}


_COLS = ["k", "x", "s"]
_ROWS = [(i, i / 7.0, f"s{i % 3}") for i in range(50)] + [(50, -0.0, None)]


def test_fingerprint_ignores_row_order():
    rows = list(_ROWS)
    random.Random(1).shuffle(rows)
    assert stats.fingerprint(_COLS, rows) == stats.fingerprint(_COLS, _ROWS)


def test_fingerprint_ignores_partitioning():
    """The same rows collected from differently partitioned results:
    chunks of any size, concatenated in any chunk order."""
    base = stats.fingerprint(_COLS, _ROWS)
    for size in (1, 7, 16, 51):
        chunks = [_ROWS[i:i + size] for i in range(0, len(_ROWS), size)]
        random.Random(size).shuffle(chunks)
        rows = [r for c in chunks for r in c]
        assert stats.fingerprint(_COLS, rows) == base


def test_fingerprint_ignores_column_order():
    order = [2, 0, 1]
    cols = [_COLS[i] for i in order]
    rows = [tuple(r[i] for i in order) for r in _ROWS]
    assert stats.fingerprint(cols, rows) == stats.fingerprint(_COLS, _ROWS)


def test_fingerprint_sees_bits_and_multiplicity():
    base = stats.fingerprint(_COLS, _ROWS)
    signed = _ROWS[:-1] + [(50, 0.0, None)]
    assert stats.fingerprint(_COLS, signed) != base
    assert stats.fingerprint(_COLS, _ROWS + _ROWS[:1]) != base
    assert stats.fingerprint(["k", "x", "t"], _ROWS) != base
