"""Spans and counters for the benchmark's traced mode.

A :class:`Recorder` keeps the spans of one traced pass in memory:
``(op, step, start, end)`` with steps ``prepare``, ``build``, ``plan``,
``write`` and ``cleanup``. It also switches the Spark job group between
an operation's build and execute steps, so the jobs each step starts can
be counted through ``statusTracker`` and found again in the event log.

:class:`TimedSink` is the ``GenericSink`` every operation writes through.
Untraced it is a plain ``GenericSink``; with a recorder attached it
first plans the frame (reading Catalyst's phase times from
``queryExecution().tracker()``) and then writes it, each in its own span.
"""
from __future__ import annotations

import contextlib
import glob
import os
import pstats
import time
from dataclasses import dataclass, field

from feathr_spark.materialization import GenericSink

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Recorder:
    def __init__(self, spark, prefix: str):
        self.spark = spark
        self.prefix = prefix
        self.op = ""
        self.spans = []        # (op, step, start_s, end_s)
        self.catalyst = []     # (op, {phase: ms}, plan_nodes)

    def group_id(self, op: str, kind: str) -> str:
        return f"{self.prefix}:{op}:{kind}"

    def set_group(self, kind: str) -> None:
        self.spark.sparkContext.setJobGroup(self.group_id(self.op, kind),
                                            f"perfbench {self.op} {kind}")

    @contextlib.contextmanager
    def span(self, step: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.op, step, t0, time.perf_counter()))

    def plan(self, df) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        ms = {}
        for name in CATALYST_PHASES:
            p = phases.get(name)          # a Scala Option
            ms[name] = p.get().durationMs() if p.isDefined() else 0
        nodes = len(qe.optimizedPlan().treeString().splitlines())
        self.catalyst.append((self.op, ms, nodes))


@dataclass
class TimedSink(GenericSink):
    recorder: Recorder | None = field(default=None, repr=False)

    def write(self, df) -> None:
        rec = self.recorder
        if rec is None:
            return super().write(df)
        rec.set_group("execute")
        try:
            with rec.span("plan"):
                rec.plan(df)
            with rec.span("write"):
                super().write(df)
        finally:
            rec.set_group("build")


def job_counts(spark, group: str) -> dict:
    """Jobs, executed stages and completed tasks of one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def udf_seconds(spark, dump_dir: str) -> float:
    """Total time inside Python UDF calls recorded by the
    ``spark.sql.pyspark.udf.profiler=perf`` profiler since the last
    call; clears the recorded profiles."""
    os.makedirs(dump_dir, exist_ok=True)
    for f in glob.glob(os.path.join(dump_dir, "*")):
        os.remove(f)
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear(type="perf")
    return sum(pstats.Stats(f).total_tt
               for f in glob.glob(os.path.join(dump_dir, "*.pstats")))


def covered(intervals, start: float, end: float) -> float:
    """Length of the union of ``(a, b)`` intervals inside ``[start, end]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
