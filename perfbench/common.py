"""Timing, tracing and Spark status-store reading shared by the workloads.

Every call the benchmark makes into the package goes through
:meth:`Bench.call`. Untraced, that is a wall-clock timer and nothing
else. Traced, the call also runs under its own Spark job group, opens a
span, splits its wall time into build / plan / execute, and afterwards
reads the group's jobs and stages from Spark's in-process status store.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

now = time.perf_counter


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """In-memory spans, written out once when the run ends. A disabled
    tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, now(), 0.0, parent, self.op_id)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            sp.end = now()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its direct children cover
        (children of one span run one after another, never overlapping)."""
        child_time = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                child_time[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for sp, ct in zip(self.spans, child_time):
            out[sp.name] = out.get(sp.name, 0.0) + (sp.end - sp.start) - ct
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": i,
                "name": s.name,
                "start_ms": round((s.start - t0) * 1e3, 3),
                "end_ms": round((s.end - t0) * 1e3, 3),
                "parent": s.parent,
                "op_id": s.op_id,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "self_s": self.self_times()}, f, indent=1)


class SparkStats:
    """Per-job-group totals from ``SparkContext.statusStore()``: the same
    store the Spark UI reads, which stays populated with the UI off."""

    FIELDS = (
        "jobs", "stages", "tasks", "job_ms", "executor_run_ms",
        "executor_cpu_ms", "input_bytes", "shuffle_write_bytes", "spill_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _seq(self, seq):
        return [seq.apply(i) for i in range(seq.size())]

    def _finished_job(self, jid: int, timeout_s: float = 5.0):
        # job-end events reach the status store through the listener bus,
        # a little after the action that ran the job has returned
        deadline = now() + timeout_s
        while True:
            job = self.store.job(jid)
            if job.completionTime().isDefined() or now() > deadline:
                return job
            time.sleep(0.002)

    def collect(self, group: str) -> dict:
        """Totals for one job group. ``job_ms`` is the time covered by at
        least one running job: adaptive execution runs some jobs side by
        side, so their durations overlap."""
        out = dict.fromkeys(self.FIELDS, 0)
        stage_ids = set()
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self._finished_job(jid)
            out["jobs"] += 1
            if job.completionTime().isDefined() and job.submissionTime().isDefined():
                spans.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
            stage_ids.update(int(s) for s in self._seq(job.stageIds()))
        end = None
        for a, z in sorted(spans):
            if end is None or a > end:
                out["job_ms"] += z - a
                end = z
            elif z > end:
                out["job_ms"] += z - end
                end = z
        for sid in stage_ids:
            try:
                attempts = self._seq(
                    self.store.stageData(sid, False, self._no_status, False, self._no_quantiles)
                )
            except Py4JJavaError:  # NoSuchElementException: the stage never ran
                continue
            for st in attempts:
                if st.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse an earlier shuffle
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


@dataclass
class Call:
    kind: str
    name: str
    wall: float
    build: float
    plan: float
    exec: float
    phase: str
    cycle: int | None
    spark: dict = field(default_factory=dict)


class Bench:
    """One workload run: the session, the timed calls, and the verdicts."""

    def __init__(self, spark, workdir: str, seed: int, traced: bool):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.traced = traced
        self.tracer = Tracer(traced)
        self.stats = SparkStats(spark) if traced else None
        self.calls: list[Call] = []
        self.phase = "setup"
        self.cycle_i: int | None = None
        self.attempted = 0
        self.failed = 0
        self.info: dict[str, tuple] = {}  # name -> (value, unit, n)
        self._call_ok = True
        self.trace_s = 0.0  # time spent on tracing itself, outside the spans

    # ---------------------------------------------------------------- calls

    @contextmanager
    def cycle(self, i: int):
        """One loop iteration; its spans share op id ``i``."""
        self.tracer.op_id = self.cycle_i = i
        try:
            with self.tracer.span("loop.cycle"):
                yield
        finally:
            self.tracer.op_id = self.cycle_i = None

    def call(self, kind: str, name: str, build, action: str | None = None):
        """Time one call into the package. ``build()`` makes the call and
        returns its result; when ``action`` is ``"collect"`` or
        ``"pandas"`` that result is a DataFrame this method materializes."""
        self.attempted += 1
        self._call_ok = True
        group = f"perfbench-{self.attempted}"
        if self.traced:
            t = now()
            self.spark.sparkContext.setJobGroup(group, name)
            self.trace_s += now() - t
        try:
            t0 = now()
            with self.tracer.span(name):
                out = build()
            t1 = t2 = t3 = now()
            if action is not None:
                if self.traced:
                    with self.tracer.span("spark.plan"):
                        out._jdf.queryExecution().executedPlan()
                    t2 = now()
                with self.tracer.span(f"spark.{action}"):
                    out = out.collect() if action == "collect" else out.toPandas()
                t3 = now()
        except Exception:
            self.fail(f"{name} raised:\n{traceback.format_exc()}")
            raise
        rec = Call(kind, name, t3 - t0, t1 - t0, t2 - t1, t3 - t2, self.phase, self.cycle_i)
        if self.traced:
            rec.spark = self.stats.collect(group)
            self.trace_s += now() - t3
        self.calls.append(rec)
        return out

    def fail(self, msg: str) -> None:
        """Count the current call as failed (once) and report why."""
        if self._call_ok:
            self.failed += 1
            self._call_ok = False
        print(f"perfbench: FAILED: {msg}", file=sys.stderr, flush=True)

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.fail(msg)

    def abort(self, msg: str) -> None:
        """An exception ended the run. One raised inside :meth:`call` is
        already counted; one raised by the benchmark's own code is not."""
        if self._call_ok:
            self.fail(msg)

    @contextmanager
    def oracle(self, name: str):
        with self.tracer.span(f"oracle.{name}"):
            yield

    # ---------------------------------------------------------------- stats

    def loop_calls(self) -> list[Call]:
        return [c for c in self.calls if c.phase == "loop"]

    def latencies(self, kind: str) -> list[float]:
        return [c.wall for c in self.loop_calls() if c.kind == kind]

    def cycle_call_s(self) -> float:
        """Median, over the loop cycles, of the summed call time of one
        cycle: one slow cycle out of three moves it no more than a fast one."""
        per: dict[int, float] = {}
        for c in self.loop_calls():
            per[c.cycle] = per.get(c.cycle, 0.0) + c.wall
        return median(list(per.values()))

    def kinds(self) -> list[str]:
        return list(dict.fromkeys(c.kind for c in self.loop_calls()))

    def note(self, name: str, value: float, unit: str, n: int = 1) -> None:
        self.info[name] = (value, unit, n)


def persisted(spark) -> tuple[int, float]:
    """(persisted RDD count, MB they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def dir_files(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                pass
    return out
