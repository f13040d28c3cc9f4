"""Unit pins for bench.py's r8 load-evidence semantics.

The r8 finding (ROUND8_NOTES §10): the old ``len(flagged) > 15`` rule
read load_poisoned=true on a verified-idle machine (calibration ratio
1.047) because pins are all-time minima — it measured pin-tightness,
never load.  These tests pin the replacement: load_poisoned comes from
DIRECT evidence only (entry gate gave up hot, a segment stayed hot
past its re-run budget, or mean calibration ratio > CALIB_POISON_MAX).
Pure functions — no SparkSession.
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (  # noqa: E402
    CALIB_POISON_MAX,
    direct_load_evidence,
    entry_gave_up_hot,
    probe_median,
    seg_stayed_hot,
)

GATE = 1.2


class TestEntryGate:
    def test_clean_first_probe(self):
        assert not entry_gave_up_hot([1.073], GATE)

    def test_cleared_after_wait(self):
        # the r7 trace shape: hot probe, one wait, clean re-probe
        assert not entry_gave_up_hot([1.394, 0.958], GATE)

    def test_gave_up_hot(self):
        assert entry_gave_up_hot([1.5, 1.4, 1.3, 1.25, 1.21], GATE)

    def test_no_pin_no_evidence(self):
        # no calibration pin → no gate ratios → no evidence either way
        assert not entry_gave_up_hot([], GATE)


class TestSegmentEvidence:
    def test_clean_segment(self):
        assert not seg_stayed_hot(
            {"calib_before": 0.93, "calib_after": 1.19, "reran": False},
            GATE,
        )

    def test_hot_but_rerun_cleared(self):
        assert not seg_stayed_hot(
            {"calib_after": 1.4, "reran": True,
             "calib_rerun_before": 0.98, "calib_rerun_after": 1.02},
            GATE,
        )

    def test_hot_budget_exhausted(self):
        assert seg_stayed_hot({"calib_after": 1.4, "reran": False}, GATE)

    def test_hot_rerun_still_hot(self):
        assert seg_stayed_hot(
            {"calib_after": 1.4, "reran": True, "calib_rerun_after": 1.3},
            GATE,
        )

    def test_no_pin_probe_is_none(self):
        assert not seg_stayed_hot(
            {"calib_before": None, "calib_after": None, "reran": False},
            GATE,
        )


class TestLoadPoisoned:
    def test_all_clean(self):
        assert not direct_load_evidence(False, False, 1.01)

    def test_pin_tightness_is_not_load(self):
        # the r8 regression-test-in-spirit: NOTHING about queries-vs-pin
        # counts feeds the flag; a clean-evidence run stays clean no
        # matter how many mins sit above their all-time-minimum pins
        assert not direct_load_evidence(False, False, 1.047)

    def test_uniform_slowness_trips(self):
        assert direct_load_evidence(False, False, CALIB_POISON_MAX + 0.01)

    def test_entry_or_segment_trips(self):
        assert direct_load_evidence(True, False, 1.0)
        assert direct_load_evidence(False, True, 1.0)

    def test_no_pin_is_unknown_not_poisoned(self):
        assert not direct_load_evidence(False, False, None)


class TestProbeMedian:
    # the observed r8 run that motivated the median: all seven
    # segments probed 0.89-1.18 (two bursts caught and re-run clean),
    # but the END probe ran hot and the endpoint MEAN read 1.213 —
    # the during-sweep median must read clean
    R8_TRACE = [
        {"calib_before": 0.892, "calib_after": 1.064, "reran": False},
        {"calib_before": 1.075, "calib_after": 1.066, "reran": False},
        {"calib_before": 0.992, "calib_after": 1.238, "reran": True,
         "calib_rerun_before": 1.053, "calib_rerun_after": 1.127},
        {"calib_before": 1.058, "calib_after": 1.294, "reran": True,
         "calib_rerun_before": 1.089, "calib_rerun_after": 1.18},
        {"calib_before": 1.008, "calib_after": 0.956, "reran": False},
        {"calib_before": 1.042, "calib_after": 1.152, "reran": False},
        {"calib_before": 1.089, "calib_after": 1.05, "reran": False},
    ]

    def test_hot_tail_probe_does_not_poison_a_clean_sweep(self):
        med = probe_median(self.R8_TRACE, [1.073, 1.31])
        assert med is not None and med <= CALIB_POISON_MAX
        assert not direct_load_evidence(False, False, med)

    def test_uniformly_slow_sweep_reads_poisoned(self):
        # every probe ~1.19: under the per-probe 1.2 gate, but the
        # machine was ~20% slow for the WHOLE sweep — poisoned
        trace = [
            {"calib_before": 1.19, "calib_after": 1.18, "reran": False}
            for _ in range(7)
        ]
        med = probe_median(trace, [1.19, 1.19])
        assert med > CALIB_POISON_MAX
        assert direct_load_evidence(False, False, med)

    def test_no_probes_is_unknown(self):
        assert probe_median([], [None, None]) is None

    def test_median_ignores_missing_rerun_keys(self):
        med = probe_median(
            [{"calib_before": 1.0, "calib_after": None, "reran": False}],
            [None],
        )
        assert med == 1.0


class TestBenchFold:
    """r10: the min-across-sweeps fold (tools/bench_fold.py)."""

    def test_per_query_min_raw_and_normalized_independent(self):
        from tools.bench_fold import fold

        a = {
            "queries": {"q1": 2.0, "q2": 1.0},
            "queries_normalized": {"q1": 1.5, "q2": 0.9},
            "value": 3.0, "value_normalized": 2.4, "sf": 0.1,
            "load_poisoned": True, "calibration": {"probe_median": 1.3},
        }
        b = {
            "queries": {"q1": 1.2, "q2": 1.4},
            "queries_normalized": {"q1": 1.2, "q2": 1.4},
            "value": 2.6, "value_normalized": 2.6, "sf": 0.1,
            "load_poisoned": False, "calibration": {"probe_median": 1.0},
        }
        rec = fold([a, b])
        # raw and normalized mins are taken independently: q2's raw
        # min comes from sweep a, its normalized min also from a;
        # q1's both from b
        assert rec["queries"] == {"q1": 1.2, "q2": 1.0}
        assert rec["queries_normalized"] == {"q1": 1.2, "q2": 0.9}
        assert rec["value"] == 2.2
        assert rec["value_normalized"] == 2.1
        assert rec["n_sweeps"] == 2
        # provenance: each input's load evidence is carried
        assert [i["load_poisoned"] for i in rec["inputs"]] == [True, False]


#: the ``SPARK_GRAFT_*`` environment variables bench.py reads — its
#: deployment settings: data dir, core count and output path.  The
#: protocol's repetition, spread, load-gate and segment values are
#: module constants; a new env knob must be added here, so it shows up
#: in review.
BENCH_ENV_KNOBS = {
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_BENCH_OUT",
}


def test_bench_env_knob_inventory():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "bench.py"), encoding="utf-8") as f:
        found = set(re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read()))
    assert found == BENCH_ENV_KNOBS
