"""Per-query layer breakdown, read from outside the package.

* build: jobs and stages Spark ran while the query callable executed
  (job group ``<tag>/build``): eager shared builds, memos, checkpoints.
* plan: Catalyst phase times (analysis, optimization, planning) and the
  number of exchange nodes of the final plan, both from the noop
  write's own QueryExecution, delivered by a QueryExecutionListener.
* exec: the action's jobs (job group ``<tag>/exec``), their stages and
  task metrics from the status store, and the part of the action's
  wall time that no running stage covers.

Every lookup goes job group -> job ids -> stage ids, so its cost does
not grow with the number of queries already run.
"""

from __future__ import annotations

import re
import threading
import time

from pyspark.java_gateway import ensure_callback_server_started

PHASES = ("analysis", "optimization", "planning")
_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s+)?(\w+)")
_EXCHANGES = {"Exchange", "BroadcastExchange"}


def count_exchanges(plan: str) -> int:
    """Exchange nodes in a physical plan's tree string. For adaptive
    plans only the ``== Final Plan ==`` part counts (what actually
    ran); ``== Initial Plan ==`` subtrees are skipped."""
    n = 0
    skip_col = None
    for line in plan.splitlines():
        body = line.lstrip(" :|+-")
        col = len(line) - len(body)
        if skip_col is not None:
            if col >= skip_col and not (col == skip_col and body.startswith("== Final Plan")):
                continue
            skip_col = None
        if body.startswith("== Initial Plan"):
            skip_col = col
            continue
        m = _NODE.match(line)
        if m and m.group(1) in _EXCHANGES:
            n += 1
    return n


class _PlanListener:
    """Receives each finished QueryExecution on Spark's listener bus."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self.cond = threading.Condition()

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        ev = {"func": func_name}
        try:
            phases = qe.tracker().phases()
            ev["phases_ms"] = {
                p: phases.get(p).get().durationMs()
                for p in PHASES if phases.get(p).isDefined()
            }
            ev["exchanges"] = count_exchanges(qe.executedPlan().toString())
        except Exception as exc:  # keep the bus alive whatever happens
            ev["error"] = str(exc)[:200]
        with self.cond:
            self.events.append(ev)
            self.cond.notify_all()

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        with self.cond:
            self.events.append({"func": func_name, "error": "failed"})
            self.cond.notify_all()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()
        self._stage_args = [
            getattr(self.store, f"stageData$default${i}")() for i in (2, 3, 4, 5)
        ]
        ensure_callback_server_started(self.sc._gateway)
        self.listener = _PlanListener()
        spark._jsparkSession.listenerManager().register(self.listener)
        self._mark = 0

    def before_action(self) -> None:
        self.bus.waitUntilEmpty()
        with self.listener.cond:
            self._mark = len(self.listener.events)

    def _plan(self) -> dict:
        """The noop write's QueryExecution: the last one to finish after
        the action started."""
        lis = self.listener
        deadline = time.time() + 10
        with lis.cond:
            while len(lis.events) <= self._mark and time.time() < deadline:
                lis.cond.wait(0.05)
            new = lis.events[self._mark:]
        writes = [ev for ev in new if ev["func"] == "overwrite"]
        ev = (writes or new or [{}])[-1]
        if "phases_ms" not in ev:
            return {}
        return {"plan_s": sum(ev["phases_ms"].values()) / 1e3,
                "phases_ms": ev["phases_ms"], "exchanges": ev["exchanges"]}

    def _group(self, group: str, w0: float = 0.0, w1: float = 0.0) -> dict:
        """Jobs, stages and task metrics of one job group. ``w0``/``w1``
        bound the action; the gap is the part of it no stage covers."""
        out = dict(jobs=0, stages=0, skipped=0, tasks=0, executor_s=0.0,
                   executor_cpu_s=0.0, gc_s=0.0, shuffle_write_mb=0.0,
                   shuffle_read_mb=0.0, spill_mb=0.0, input_mb=0.0)
        spans = []
        for job_id in self.tracker.getJobIdsForGroup(group):
            job = self.store.job(job_id)
            out["jobs"] += 1
            out["skipped"] += job.numSkippedStages()
            ids = job.stageIds()
            for k in range(ids.size()):
                for sd in _seq(self.store.stageData(ids.apply(k), *self._stage_args)):
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numTasks()
                    out["executor_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                    out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                    out["spill_mb"] += sd.diskBytesSpilled() / 2**20
                    out["input_mb"] += sd.inputBytes() / 2**20
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        total = out["stages"] + out["skipped"]
        out["stage_reuse_frac"] = out["skipped"] / total if total else 0.0
        if w1 > w0:
            out["gap_s"] = max(0.0, (w1 - w0) - _covered(spans, w0, w1))
        return out

    def query_layers(self, tag: str, w0: float, w1: float) -> dict:
        self.bus.waitUntilEmpty()
        return {"build": self._group(f"{tag}/build"),
                "plan": self._plan(),
                "exec": self._group(f"{tag}/exec", w0, w1)}


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``spans`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
