"""Measurement from outside the engine: spans around the benchmark's own
calls into each layer, Spark status-store counters for the stages an op
created, Catalyst phase times of an op's DataFrame, and streaming
progress from a ``StreamingQueryListener``.  Everything is held in
memory and written once when the run ends."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

#: status-store stage fields summed per op (name -> (StageData getter, scale))
STAGE_FIELDS = {
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "shuffle_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_bytes": ("diskBytesSpilled", 1),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
    "input_rows": ("inputRecords", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
}
PHASES = ("parsing", "analysis", "optimization", "planning")


class Spans:
    """Spans with name, start, end, parent and op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op_id: int, parent: int | None = None):
        rec = {"id": len(self.spans), "name": name, "op_id": op_id,
               "parent": parent, "start": time.time(), "end": None}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def add(self, name: str, op_id: int, parent: int | None,
            start: float, end: float) -> None:
        self.spans.append({"id": len(self.spans), "name": name,
                           "op_id": op_id, "parent": parent,
                           "start": start, "end": end})


class Status:
    """Reads job, stage and driver counters of one SparkContext."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def mark(self) -> tuple[int, int]:
        """(next job id, next stage id): ids handed out after this call
        belong to whatever runs next."""
        return (_counter(self._dag.nextJobId()),
                _counter(self._dag.nextStageId()))

    def stage_sums(self, since: tuple[int, int], until: tuple[int, int],
                   fields=None) -> dict[str, float]:
        """Sum ``fields`` (default :data:`STAGE_FIELDS`) over the stages
        created between two marks, after the listener bus has delivered
        their events."""
        fields = fields or STAGE_FIELDS
        self._bus.waitUntilEmpty()
        out = {k: 0.0 for k in fields}
        out["jobs"] = until[0] - since[0]
        for sid in range(since[1], until[1]):
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException
                continue  # a stage the scheduler never registered
            for k, (getter, scale) in fields.items():
                out[k] += getattr(st, getter)() * scale
        return out

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self._pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the driver JVM's status")


def _counter(v) -> int:
    """A DAGScheduler id counter: a plain int or an AtomicInteger."""
    return v if isinstance(v, int) else int(v.get())


def catalyst_phases(df) -> list[tuple[str, float, float]]:
    """(phase, start, end) in epoch seconds for a DataFrame's planning
    phases, as its QueryPlanningTracker recorded them."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = []
    for name in PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            ph = opt.get()
            out.append((name, ph.startTimeMs() / 1e3, ph.endTimeMs() / 1e3))
    return out


def exchange_count(df) -> int:
    """Exchange nodes in the executed plan (AQE's final plan only)."""
    from ema_bigdata_spark.plans import exchange_count as count

    plan = df._jdf.queryExecution().executedPlan().toString()
    return count(plan.split("== Initial Plan ==")[0])


class Progress(StreamingQueryListener):
    """Collects streaming micro-batch progress."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = dict(p.durationMs or {})
        self.batches.append({
            "run_id": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "planning_ms": d.get("queryPlanning", 0),
            "wal_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "state_commit_ms": sum(
                s.commitTimeMs for s in (p.stateOperators or [])
            ),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def write_trace(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f)
