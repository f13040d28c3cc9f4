"""Closed-loop benchmark of the engine: one client, one process, the next
op starts when the previous one returns.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Everything the run writes stays under ``.perfbench/``
in the checkout; generated inputs are deleted at exit and a traced
run's spans are kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: timed passes a run makes at least, whatever ``--seconds`` says; the
#: first of them still runs up to 1.5x slower while the JIT settles,
#: which the best-of-passes estimators in ``end_to_end`` step over
MIN_PASSES = 5
LAYERS = (
    "gmm", "gmm_parity", "operators.relational", "operators.joins",
    "operators.windows", "operators.text", "operators.dedup",
    "operators.similarity", "streaming",
)
LAYER_FIELDS = (
    "build_s", "plan_s", "exec_s", "jobs", "tasks", "failed_tasks", "cpu_s",
    "gc_s", "shuffle_write_bytes", "shuffle_wait_s", "spill_bytes",
)
EXCHANGE_LAYERS = ("operators.relational", "operators.joins",
                   "operators.windows")
#: status-store totals every pass reads (``trace.STAGE_FIELDS`` names)
PASS_FIELDS = ("cpu_s", "tasks", "shuffle_write_bytes", "input_rows")
#: end-to-end metrics and their units; the counts are per timed pass
END_TO_END = {
    "setup_s": "s", "jobs_per_pass": "count", "tasks_per_pass": "count",
    "shuffle_mb_per_pass": "MB", "scan_rows_per_pass": "count",
}
#: timings reported beside the result, not as gated metrics: on the
#: measuring machine they spread 0.2-0.6 across seeds (see WORKLOADS.md)
TIMINGS = {
    "rows_per_s": "rows/s", "op_p50_s": "s", "executor_cpu_s": "s",
    "peak_rss_mb": "MB",
}
#: timed passes of a traced run: two untraced and two traced
TRACED_RUN_PASSES = 4


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> int:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout; return the core count for ``local[n]``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_GRAFT_CPUS": str(cpus),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-XX:-UsePerfData -Dderby.system.home={tmp}' pyspark-shell"
        ),
    })
    return cpus


class Runner:
    def __init__(self, args, work: str, cpus: int) -> None:
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.status = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.verified: dict[str, str] = {}

    # -- set-up ----------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """From a fresh process until ready: the engine's ``get_spark``
        (which launches the JVM), ``load_all`` and the generated inputs.
        Timed once: repeating it in-process would skip the JVM launch,
        and those restarts drifted 45% between sets of ten runs where
        the fresh-process time drifted 16%."""
        from ema_bigdata_spark import registry
        from ema_bigdata_spark.session import get_spark
        from perfbench import inputs
        from perfbench.trace import Status

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.cpus}]")
        t1 = time.perf_counter()
        registry.load_all()
        t2 = time.perf_counter()
        self.data = os.path.join(self.work, "inputs")
        inputs.write_inputs(self.data, self.args.seed)
        t3 = time.perf_counter()
        self.status = Status(self.spark)
        return {"setup_s": t3 - t0, "session.get_spark_s": t1 - t0,
                "session.load_all_s": t2 - t1}

    def _duck(self):
        import duckdb

        from ema_bigdata_spark.sources.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    # -- one op ------------------------------------------------------------

    def call(self, op, ctx, pass_no: int, spans=None) -> dict:
        """Run one op; time the call plus its action; fingerprint and
        check the result outside the timed window."""
        rec = {"op": op.name, "layer": op.layer}
        op_id = len(spans.spans) if spans is not None else 0
        m0 = self.status.mark()
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        result = err = df = None
        try:
            if spans is None:
                loaded = op.load(ctx) if op.load else None
                result = op.build(ctx, loaded)
                if op.action == "collect":
                    df, result = result, result.collect()
                elif op.action == "write":
                    df = result
                    self._write(op, df, ctx)
            else:
                result, df = self._traced_call(op, ctx, spans, op_id, rec)
        except Exception as e:  # an op failure is a result, not a crash
            err = f"{op.name}: {type(e).__name__}: {str(e)[:300]}"
        rec["latency_s"] = time.perf_counter() - t0
        rec["driver_cpu_s"] = time.process_time() - cpu0
        rec["marks"] = (m0, self.status.mark())
        self.attempted += 1
        if err is None:
            try:
                cols, rows = self._rows(op, df, result, ctx)
                self._verify(op, ctx, cols, rows, pass_no)
            except Exception as e:
                err = f"{op.name}: {type(e).__name__}: {str(e)[:300]}"
        if err is not None:
            self.failed += 1
            self.errors.append(err)
        rec["df"] = df
        rec["result"] = result
        return rec

    def _write(self, op, df, ctx) -> None:
        from ema_bigdata_spark.sources.sinks import write_parquet

        write_parquet(df, os.path.join(ctx.out, op.name))

    def _traced_call(self, op, ctx, spans, op_id, rec):
        st = self.status
        self.spark.sparkContext.setJobGroup(f"op{op_id}", op.name)
        with spans.span("op", op_id) as top:
            loaded = None
            if op.load:
                with spans.span("sources.load", op_id, top["id"]):
                    loaded = op.load(ctx)
            b0 = st.mark()
            with spans.span(f"{op.layer}.build", op_id, top["id"]) as b:
                result = op.build(ctx, loaded)
            rec["build_jobs"] = st.mark()[0] - b0[0]
            df = None
            if op.action is not None:
                df = result
                name = "sources.write" if op.action == "write" \
                    else f"{op.layer}.exec"
                with spans.span(name, op_id, top["id"]) as x:
                    if op.action == "collect":
                        result = df.collect()
                    else:
                        self._write(op, df, ctx)
        rec["spans"] = (b["id"], x["id"] if op.action else None, top["id"])
        return result, df

    def _rows(self, op, df, result, ctx):
        if op.action == "write":
            back = self.spark.read.parquet(os.path.join(ctx.out, op.name))
            return back.columns, [tuple(r) for r in back.collect()]
        if op.action == "collect":
            return df.columns, [tuple(r) for r in result]
        return op.rows(result)

    def _verify(self, op, ctx, cols, rows, pass_no: int) -> None:
        from perfbench.stats import fingerprint

        fp = fingerprint(cols, rows)
        if pass_no == 0:  # the first warm-up pass verifies
            if op.registered:
                from ema_bigdata_spark.registry import ORACLES

                res = ctx.duck.execute(ORACLES[op.name])
                ocols = [d[0] for d in res.description]
                if fingerprint(ocols, res.fetchall()) != fp:
                    raise AssertionError(f"{op.name}: differs from oracle")
            if op.check:
                op.check(ctx, cols, rows)
            self.verified[op.name] = fp
        elif self.verified.get(op.name) != fp:
            raise AssertionError(f"{op.name}: result differs from the "
                                 "verified one")

    # -- passes ------------------------------------------------------------

    def run_pass(self, order, ctx, pass_no: int, spans=None) -> dict:
        from perfbench.trace import STAGE_FIELDS

        calls = [self.call(op, ctx, pass_no, spans) for op in order]
        # status-store counters, read after the pass: the pass totals when
        # untraced, every stage field when traced
        fields = None if spans is not None else {
            k: STAGE_FIELDS[k] for k in PASS_FIELDS
        }
        for c in calls:
            c["stages"] = self.status.stage_sums(*c["marks"], fields=fields)
        out = {
            "no": pass_no,
            "traced": spans is not None,
            "time_s": sum(c["latency_s"] for c in calls),
            "calls": calls,
        }
        for k in ("jobs",) + PASS_FIELDS:
            out[k] = sum(c["stages"][k] for c in calls)
        return out

    def run(self) -> dict:
        import random

        from perfbench import stats
        from perfbench.trace import Progress, Spans
        from perfbench.workloads import Ctx, path_guards

        args = self.args
        setup = self.setup()
        guards = path_guards(self.wl.name, self.data)
        out = os.path.join(self.work, "out")
        os.makedirs(out, exist_ok=True)
        ctx = Ctx(self.spark, self.data, out, self._duck())
        order = list(self.wl.ops)
        random.Random(args.seed).shuffle(order)

        progress = None
        if args.trace:
            progress = Progress()
            self.spark.streams.addListener(progress)
        t0 = time.perf_counter()
        warm = self.run_pass(order, ctx, 0)
        warmup_s = time.perf_counter() - t0

        spans = Spans()
        passes = []
        start = time.perf_counter()
        need = TRACED_RUN_PASSES if args.trace else MIN_PASSES
        while len(passes) < need or time.perf_counter() - start < args.seconds:
            # a traced run alternates untraced, traced, traced, untraced
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            n_batches = len(progress.batches) if progress else 0
            p = self.run_pass(order, ctx, len(passes) + 1,
                              spans if traced else None)
            if progress is not None:
                p["stream_batches"] = progress.batches[n_batches:]
            passes.append(p)
        measured_s = time.perf_counter() - start

        result = {
            "workload": self.wl.name, "seed": args.seed,
            "order": [op.name for op in order],
            "guards": guards, "setup": setup, "warmup_s": warmup_s,
            "measured_s": measured_s, "passes": len(passes),
            "pass_time_s": [round(p["time_s"], 3) for p in passes],
            "pass_cpu_s": [round(p["cpu_s"], 3) for p in passes],
            "warmup_ops_s": {c["op"]: round(c["latency_s"], 3)
                             for c in warm["calls"]},
        }
        plain = [p for p in passes if not p["traced"]]
        result["e2e"] = self.end_to_end(plain, setup)
        if args.trace:
            traced = [p for p in passes if p["traced"]]
            result["layers"] = self.per_layer(traced, spans, setup, warmup_s)
            rps_t = self.wl.rows_per_pass() / min(p["time_s"] for p in traced)
            rps_u = result["e2e"]["rows_per_s"]
            result["layers"]["trace.overhead"] = (rps_u - rps_t) / rps_u
            from perfbench.trace import write_trace

            write_trace(
                os.path.join(ROOT, ".perfbench", "traces",
                             f"{self.wl.name}-seed{args.seed}.json"),
                {"workload": self.wl.name, "seed": args.seed,
                 "spans": spans.spans,
                 "self_s": stats.self_times(spans.spans),
                 "counters": [
                     {"pass": p["no"], "op": c["op"], **c["stages"]}
                     for p in traced for c in p["calls"]
                 ],
                 "stream_batches": [b for p in traced
                                    for b in p.get("stream_batches", [])]},
            )
        result["correct"] = self.failed == 0 and all(guards.values())
        return result

    # -- metrics -------------------------------------------------------------

    def end_to_end(self, plain, setup) -> dict:
        """The gated counts are medians over the timed passes.  The
        timings are best-of-passes: host noise and the JIT's warming only
        ever slow a pass down, so the fastest pass and each op's fastest
        call are the steadiest readings of the same work."""
        from perfbench import stats

        lat = [c["latency_s"] for p in plain for c in p["calls"]]
        best: dict[str, float] = {}
        for p in plain:
            for c in p["calls"]:
                best[c["op"]] = min(best.get(c["op"], math.inf), c["latency_s"])
        pct = stats.tail_percentile(len(lat))

        def per_pass(k):
            return statistics.median(p[k] for p in plain)

        return {
            "setup_s": setup["setup_s"],
            "jobs_per_pass": per_pass("jobs"),
            "tasks_per_pass": per_pass("tasks"),
            "shuffle_mb_per_pass": per_pass("shuffle_write_bytes") / 2**20,
            "scan_rows_per_pass": per_pass("input_rows"),
            "rows_per_s": self.wl.rows_per_pass()
            / min(p["time_s"] for p in plain),
            "op_p50_s": statistics.median(best.values()),
            "executor_cpu_s": min(p["cpu_s"] for p in plain),
            "peak_rss_mb": self.status.peak_rss_mb(),
            "_op_best_s": best,
            "_op_p50_pooled_s": statistics.median(lat),
            "_op_tail_s": statistics.quantiles(
                lat, n=100, method="inclusive")[pct - 1] if pct else None,
            "_tail_percentile": pct,
            "_op_calls": len(lat),
        }

    def per_layer(self, traced, spans, setup, warmup_s) -> dict:
        from perfbench.trace import catalyst_phases, exchange_count
        from perfbench.workloads import PARITY_ITERS

        by_id = {s["id"]: s for s in spans.spans}
        per_pass: list[dict[str, float]] = []
        for p in traced:
            m: dict[str, float] = {}

            def add(key, v):
                m[key] = m.get(key, 0.0) + v

            for c in p["calls"]:
                L, st = c["layer"], c["stages"]
                if "spans" not in c:  # the op raised before its spans closed
                    continue
                b_id, x_id, top_id = c["spans"]
                b = by_id[b_id]
                add(f"{L}.build_s", b["end"] - b["start"])
                if x_id is not None:
                    x = by_id[x_id]
                    add(f"{x['name']}_s", x["end"] - x["start"])
                for s in spans.spans:
                    if s["parent"] == top_id and s["name"] == "sources.load":
                        add("sources.load_s", s["end"] - s["start"])
                df = c["df"]
                if df is not None:
                    for name, a, z in catalyst_phases(df):
                        parent = b_id if a < b["end"] else x_id
                        spans.add(f"{L}.plan", by_id[top_id]["op_id"],
                                  parent, a, z)
                        add(f"{L}.plan_s", z - a)
                    if L in EXCHANGE_LAYERS:
                        add(f"{L}.exchanges", exchange_count(df))
                for f in LAYER_FIELDS[3:]:
                    add(f"{L}.{f}", st[f])
                add("sources.input_rows", st["input_rows"])
                add("sources.input_bytes", st["input_bytes"])
                add("sources.output_bytes", st["output_bytes"])
                if L == "gmm":
                    n_iter = c["result"].n_iter
                    add("gmm.n_iter", n_iter)
                    add("gmm.jobs_per_iter", st["jobs"] / n_iter)
                    add("gmm.driver_cpu_s", c["driver_cpu_s"])
                if L == "gmm_parity":
                    add("gmm_parity.jobs_per_iter", st["jobs"] / PARITY_ITERS)
                if L == "operators.dedup":
                    add("operators.dedup.driver_cpu_s", c["driver_cpu_s"])
                    if c["op"] == "q_dedup_cluster":
                        add("operators.dedup.cc_jobs", c["build_jobs"])
            bs = p.get("stream_batches", [])
            if bs:
                add("streaming.batches", len(bs))
                add("streaming.data_batch_share",
                    sum(1 for x in bs if x["rows"] > 0) / len(bs))
                add("streaming.query_planning_s",
                    sum(x["planning_ms"] for x in bs) / 1e3)
                add("streaming.wal_commit_s", sum(x["wal_ms"] for x in bs) / 1e3)
                add("streaming.state_commit_s",
                    sum(x["state_commit_ms"] for x in bs) / 1e3)
            per_pass.append(m)
        names = per_layer_names()
        out = {}
        for n in names:
            if n in ("session.get_spark_s", "session.load_all_s"):
                out[n] = setup[n]
            elif n == "session.warmup_s":
                out[n] = warmup_s
            elif n != "trace.overhead":
                out[n] = statistics.median([m.get(n, 0.0) for m in per_pass])
        return out


def per_layer_names() -> list[str]:
    names = [f"{L}.{f}" for L in LAYERS for f in LAYER_FIELDS]
    names += ["session.get_spark_s", "session.load_all_s", "session.warmup_s",
              "sources.load_s", "sources.input_rows", "sources.input_bytes",
              "sources.write_s", "sources.output_bytes",
              "gmm.n_iter", "gmm.jobs_per_iter", "gmm.driver_cpu_s",
              "gmm_parity.jobs_per_iter",
              "operators.dedup.cc_jobs", "operators.dedup.driver_cpu_s"]
    names += [f"{L}.exchanges" for L in EXCHANGE_LAYERS]
    names += ["streaming.batches", "streaming.data_batch_share",
              "streaming.query_planning_s", "streaming.wal_commit_s",
              "streaming.state_commit_s", "trace.overhead"]
    return names


def _shutdown(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "ema_bigdata_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py"))):
        print(f"perfbench: no engine checkout at {ROOT} "
              "(ema_bigdata_spark/ and tests/oracle.py are required)",
              file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # SIGTERM unwinds like an exception, so the JVM and inputs are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    cpus = _environment(work)
    runner = Runner(args, work, cpus)
    try:
        res = runner.run()
    finally:
        try:
            _shutdown(runner.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    e2e = res["e2e"]
    if args.trace:
        metrics = {n: {"value": v, "unit": _layer_unit(n)}
                   for n, v in res["layers"].items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u}
                   for n, u in END_TO_END.items()}
    summary = {
        "workload": res["workload"], "seed": res["seed"],
        "order": res["order"], "path_guards": res["guards"],
        "warmup_s": res["warmup_s"], "warmup_ops_s": res["warmup_ops_s"],
        "measured_s": res["measured_s"], "timed_passes": res["passes"],
        "pass_time_s": res["pass_time_s"], "pass_cpu_s": res["pass_cpu_s"],
        "op_calls": e2e["_op_calls"],
        "timings": {n: {"value": e2e[n], "unit": u}
                    for n, u in TIMINGS.items()},
        "op_best_s": e2e["_op_best_s"],
        "op_p50_pooled_s": e2e["_op_p50_pooled_s"],
        # null unless the calls support a percentile above the median
        # with ten calls beyond it
        "op_tail": {"percentile": e2e["_tail_percentile"],
                    "value": e2e["_op_tail_s"], "unit": "s"},
        "ops_failed": {"value": runner.failed / runner.attempted,
                       "unit": "share"},
        "errors": runner.errors[:10],
    }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("share", "overhead")):
        return "share"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
