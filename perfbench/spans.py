"""Tracing from outside the engine.

Spans are recorded by the benchmark around its calls into the package's
public functions; Spark's side of each operation is read afterwards from
the driver's status stores through py4j:

* ``SparkContext.statusStore()`` - jobs (submit/complete times, tasks) and
  stage task metrics (run time, GC, shuffle write, spill);
* ``SharedState.statusStore()`` - per-execution SQL plan metrics (parquet
  scan files read and rows output);
* ``QueryExecution.tracker()`` - Catalyst phase times of every DataFrame
  an operation collected.

Nothing is read while an operation runs: the op window holds only a
job-group property and a Python list append.  Spans stay in memory and
are written as one JSON file at the end of the run.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

WINDOW_TOL_MS = 5.0  # JVM times are whole milliseconds; py time is float

PHASES = ("analysis", "optimization", "planning")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _num(text: str | None) -> float:
    """First number in a formatted SQL metric value ('11,642' -> 11642)."""
    if not text:
        return 0.0
    m = re.search(r"[\d,]+(\.\d+)?", text)
    return float(m.group(0).replace(",", "")) if m else 0.0


class Tracer:
    """Spans plus per-op Spark readings.  ``enabled`` False makes every
    hook a no-op, so the untraced path runs the same benchmark code."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._collected: list = []  # JVM Datasets the current traced op collected
        self._collect_hooked = False
        self._active = False  # a traced op is running
        if enabled:
            sc = spark.sparkContext
            self._sc = sc
            self._jsc = sc._jsc.sc()
            self._jobs = self._jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._gc = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """A named interval; ``op`` links it to the operation it belongs to."""
        t0 = time.time()
        try:
            yield
        finally:
            if self.enabled:
                self.spans.append({"name": name, "op": op, "start": t0, "end": time.time()})

    # -- per-op readings -----------------------------------------------------

    def _hook_collect(self) -> None:
        """Remember every DataFrame a traced op collects, so its Catalyst
        phase times can be read after the op returns."""
        if self._collect_hooked:
            return
        from pyspark.sql.classic.dataframe import DataFrame  # the local session's class

        original = DataFrame.collect
        tracer = self

        def collect(df):
            if tracer._active:
                tracer._collected.append(df._jdf)
            return original(df)

        DataFrame.collect = collect
        self._collect_hooked = True

    def _next_job(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _last_ids(self) -> tuple[int, int]:
        job = self._next_job() - 1
        n = self._sql.executionsCount()
        ex = _seq(self._sql.executionsList(n - 1, 1))[0].executionId() if n else -1
        return job, ex

    def _gc_ms(self) -> float:
        return float(sum(g.getCollectionTime() for g in self._gc.toArray()))

    def begin(self, op: int, kind: str, traced: bool) -> dict | None:
        """Called outside the op's timed window."""
        if not self.enabled:
            return None
        if not traced:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            return None
        self._hook_collect()
        gid = f"op-{op}-{kind}"
        self._sc.setJobGroup(gid, gid)
        job, ex = self._last_ids()
        self._collected = []
        self._active = True
        return {"op": op, "kind": kind, "group": gid, "job0": job, "ex0": ex, "gc0": self._gc_ms()}

    def end(self, ctx: dict | None, t0: float, t1: float, marks: dict | None = None) -> dict | None:
        """Read the finished op's jobs, stages, SQL executions and Catalyst
        phases.  ``marks`` are named wall-clock instants inside the op
        (e.g. the end of a registry plan build) used to split job counts."""
        if ctx is None:
            return None
        self._active = False
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        rec = {
            "op": ctx["op"], "kind": ctx["kind"], "start": t0, "end": t1,
            "jobs": 0, "tasks": 0, "outside_group": 0, "run_s": 0.0,
            "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
            "files_read": 0.0, "scan_rows": 0.0,
            "analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0,
        }
        submits, ends = [], []
        for job_id in range(ctx["job0"] + 1, self._next_job()):
            try:
                jd = self._jobs.job(job_id)
            except Py4JError:  # evicted from the store (retainedJobs)
                continue
            rec["jobs"] += 1
            grp = jd.jobGroup()
            if not (grp.isDefined() and grp.get() == ctx["group"]):
                rec["outside_group"] += 1
            sub = jd.submissionTime()
            if sub.isDefined():
                submits.append(sub.get().getTime() / 1000.0)
            done = jd.completionTime()
            if done.isDefined():
                ends.append(done.get().getTime() / 1000.0)
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self._jobs.lastStageAttempt(sid)
                except Py4JError:  # evicted from the store (retainedStages)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                rec["tasks"] += sd.numTasks()
                rec["run_s"] += sd.executorRunTime() / 1000.0
                rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        for mark, at in (marks or {}).items():
            rec[f"jobs_before_{mark}"] = sum(1 for s in submits if s <= at)
        n = self._sql.executionsCount()
        if n:
            recent = _seq(self._sql.executionsList(max(0, n - 64), min(n, 64)))
            for e in recent:
                eid = e.executionId()
                if eid <= ctx["ex0"]:
                    continue
                values = self._sql.executionMetrics(eid)
                for node in _seq(self._sql.planGraph(eid).allNodes()):
                    if not node.name().startswith("Scan"):
                        continue
                    for m in _seq(node.metrics()):
                        if m.name() in ("number of files read", "number of output rows"):
                            v = values.get(m.accumulatorId())
                            key = "files_read" if m.name().startswith("number of files") else "scan_rows"
                            rec[key] += _num(v.get() if v.isDefined() else None)
        for jdf in self._collected:
            self.add_phases(rec, jdf)
        self._collected = []
        rec["gc_s"] = (self._gc_ms() - ctx["gc0"]) / 1000.0
        if submits:
            rec["pre_exec_ms"] = (min(submits) - t0) * 1000.0
            rec["exec_ms"] = (max(ends or submits) - min(submits)) * 1000.0
            rec["post_ms"] = (t1 - max(ends or submits)) * 1000.0
        else:
            rec["pre_exec_ms"], rec["exec_ms"], rec["post_ms"] = (t1 - t0) * 1000.0, 0.0, 0.0
        wall = (t1 - t0) * 1000.0
        parts = (rec["pre_exec_ms"], rec["exec_ms"], rec["post_ms"])
        rec["window_err_ms"] = max(
            abs(sum(parts) - wall), max(0.0, -rec["pre_exec_ms"]), max(0.0, -rec["post_ms"])
        )
        self.ops.append(rec)
        return rec

    def add_phases(self, rec: dict, jdf) -> None:
        phases = jdf.queryExecution().tracker().phases()
        for p in PHASES:
            opt = phases.get(p)
            if opt.isDefined():
                rec[f"{p}_s"] += opt.get().durationMs() / 1000.0

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)
