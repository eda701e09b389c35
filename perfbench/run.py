"""Layered benchmark of the feathr_spark engine.

One run measures one workload (see ``workloads.py``) on one local Spark
session, issuing every call from one client thread:

1. set-up: start the session, write the seeded fixture three times
   (checking that the files are identical each time), then warm up with
   ``WARMUP_PASSES`` whole passes, the cold one included;
2. untraced passes for ``--seconds`` (half of it with ``--trace 1``);
   ``peak_rss_mb`` is the peak resident size over these passes only;
3. with ``--trace 1``, traced passes for the other half: job groups per
   step, ``statusTracker`` counts, Catalyst phase times, the Python UDF
   profiler and the Spark event log, folded into per-layer totals;
4. the correctness checks on the last pass's outputs.

The second-to-last stdout line is a JSON report with the details (pass
times with quartiles, per-operation medians, fixture rows and bytes,
check results, host steal share); the last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics untraced and the per-layer metrics traced.

Usage: python3 perfbench/run.py --workload pit_join --seed 1 \
           --seconds 20 --trace 0
"""
from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_REPS = 3
WARMUP_PASSES = 3
# Spark's task slots; the host's other cores are left to the driver JVM's
# own threads and the Python workers, so that a busy shared host slows a
# pass less and less unevenly
MAX_CORES = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description="feathr_spark layered benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def start_session(work: str, trace: bool):
    """A local session whose scratch files all stay under ``work``."""
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    n = cores()
    b = (SparkSession.builder.master(f"local[{n}]")
         .appName("feathr_spark-perfbench")
         .config("spark.driver.memory", "1g")
         .config("spark.driver.extraJavaOptions",
                 # a fixed heap keeps the JVM's resident size from
                 # following GC timing
                 f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 # the serial collector runs no threads beside the
                 # application's, so GC does not compete with tasks
                 "-XX:+UseSerialGC")
         .config("spark.sql.shuffle.partitions", str(2 * n))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _proc_tree(root: int) -> list:
    children = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def reset_peak_rss() -> None:
    """Reset the peak resident size (VmHWM) of this process and every
    descendant to its current resident size."""
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process and every
    descendant: the driver JVM and the Python workers it forked."""
    kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def cpu_ticks() -> list:
    """The host's aggregate CPU time counters from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list, t1: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_ticks()`` readings: a busy shared host shows here."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d)


def quartiles(xs) -> dict:
    xs = sorted(xs)
    if len(xs) >= 2:
        q1, q2, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q2 = q3 = xs[0]
    return {"p25": q1, "median": q2, "p75": q3, "n": len(xs)}


class Runner:
    """Runs passes over a workload's operations and keeps the counts."""

    def __init__(self, spark, entry, workload, fixture_dir, out_dir):
        from perfbench.workloads import Context
        self.spark = spark
        self.workload = workload
        self.recorder = None
        self.ctx = Context(spark, entry, fixture_dir, out_dir, self._sink)
        self.raised = {}       # op -> executions that raised
        self.executions = {}   # op -> measured executions
        self.op_seconds = {op.name: [] for op in workload.ops}

    @property
    def attempted(self) -> int:
        return sum(self.executions.values())

    def _sink(self, path):
        from perfbench.trace import TimedSink
        return TimedSink(format="parquet", path=path, mode="overwrite",
                         recorder=self.recorder)

    def _op(self, op, measured: bool) -> None:
        from feathr_spark.operators._cache import release_intermediates
        rec = self.recorder
        span = rec.span if rec else (lambda step: contextlib.nullcontext())
        t0 = time.perf_counter()
        df = None
        try:
            if rec:
                rec.op = op.name
            with span("prepare"):
                op.prepare(self.ctx)
            if rec:
                rec.set_group("build")
            with span("build"):
                df = op.build(self.ctx)
            op.execute(self.ctx, df)
        except Exception:
            sys.stderr.write(f"operation {op.name} failed:\n"
                             f"{traceback.format_exc()}\n")
            self.raised[op.name] = self.raised.get(op.name, 0) + 1
        finally:
            with span("cleanup"):
                if df is not None:
                    release_intermediates(df)
                self.spark.catalog.clearCache()
        if measured:
            self.executions[op.name] = self.executions.get(op.name, 0) + 1
            self.op_seconds[op.name].append(time.perf_counter() - t0)

    def run_pass(self, measured: bool) -> float:
        t0 = time.perf_counter()
        for op in self.workload.ops:
            self._op(op, measured)
        return time.perf_counter() - t0

    def passes_for(self, seconds: float) -> list:
        """Whole passes, a new one started while less than ``seconds``
        have passed."""
        walls = []
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            walls.append(self.run_pass(measured=True))
        return walls

    def warm_up(self) -> list:
        return [self.run_pass(measured=False)
                for _ in range(WARMUP_PASSES)]


def traced_passes(runner, seconds: float, work: str) -> list:
    """Traced passes, a new one started while less than ``seconds`` have
    passed; one record per pass with its spans, Catalyst times, job
    counts, UDF time and wall-clock window."""
    from perfbench import checks
    from perfbench.trace import Recorder, job_counts, udf_seconds
    spark = runner.spark
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    udf_seconds(spark, os.path.join(work, "udf-profile"))   # start clean
    records = []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds:
        rec = Recorder(spark, f"pb{len(records)}")
        runner.recorder = rec
        counts, files = {}, 0
        epoch0, t0 = time.time(), time.perf_counter()
        for op in runner.workload.ops:
            runner._op(op, measured=True)
            for kind in ("build", "execute"):
                counts[(op.name, kind)] = job_counts(
                    spark, rec.group_id(op.name, kind))
            files += checks.files_in(runner.ctx.out(op.name))
        wall = time.perf_counter() - t0
        epoch1 = time.time()
        runner.recorder = None
        records.append({
            "recorder": rec, "counts": counts, "files": files, "wall": wall,
            "start": t0, "epoch": (epoch0 * 1e3, epoch1 * 1e3),
            "udf_s": udf_seconds(spark, os.path.join(work, "udf-profile")),
        })
    spark.conf.unset("spark.sql.pyspark.udf.profiler")
    return records


def layer_metrics(records, workload, groups, untraced_pass_s) -> dict:
    """Per-layer totals of each traced pass, then the median over passes.
    ``groups`` is the event-log summary by job group."""
    from perfbench.eventlog import EXECUTOR_FIELDS
    from perfbench.trace import CATALYST_PHASES, covered
    layer_of = {op.name: op.layer for op in workload.ops}
    per_pass = []
    for r in records:
        rec = r["recorder"]
        m = {f"{layer}.{k}": 0.0 for layer in ("project", "operators")
             for k in ("build_s", "build_jobs")}
        builds = [s for s in rec.spans if s[1] == "build"]
        nested = [s for s in rec.spans if s[1] in ("plan", "write")]
        for op, _, a, b in builds:
            inner = covered([(x, y) for o, _, x, y in nested if o == op],
                            a, b)
            m[f"{layer_of[op]}.build_s"] += (b - a) - inner
            m[f"{layer_of[op]}.build_jobs"] += r["counts"][(op, "build")][
                "jobs"]
        m["materialization.write_s"] = sum(
            b - a for _, step, a, b in rec.spans if step == "write")
        m["materialization.files_written"] = r["files"]
        for phase in CATALYST_PHASES:
            m[f"catalyst.{phase}_ms"] = sum(c[1][phase] for c in rec.catalyst)
        m["catalyst.plan_nodes"] = sum(c[2] for c in rec.catalyst)
        for k in ("jobs", "stages", "tasks"):
            m[f"scheduler.{k}"] = sum(c[k] for c in r["counts"].values())
        mine = {g: v for g, v in groups.items()
                if g.startswith(f"{rec.prefix}:")}
        e0, e1 = r["epoch"]
        intervals = [(a, b if b is not None else e1)
                     for g in mine.values() for a, b in g["jobs"]]
        m["scheduler.job_gap_s"] = (r["wall"]
                                    - covered(intervals, e0, e1) / 1e3)
        for k in EXECUTOR_FIELDS:
            m[f"executor.{k}"] = sum(g[k] for g in mine.values())
        m["python_worker.udf_s"] = r["udf_s"]
        m["python_worker.bytes_sent"] = sum(g["bytes_sent"]
                                            for g in mine.values())
        m["python_worker.bytes_received"] = sum(g["bytes_received"]
                                                for g in mine.values())
        m["trace.coverage"] = covered(
            [(a, b) for _, _, a, b in rec.spans], r["start"],
            r["start"] + r["wall"]) / r["wall"]
        per_pass.append(m)
    out = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    # the session's event log is on for the untraced passes of a traced
    # run as well, so this ratio leaves out the event log's own cost
    out["trace.overhead_ratio"] = statistics.median(
        r["wall"] for r in records) / untraced_pass_s
    return out


def run_checks(runner) -> tuple:
    """``({op: None or failure reason}, output rows of the last pass)``."""
    from perfbench import checks
    wl, ctx = runner.workload, runner.ctx
    con = checks.connect(ctx.fixture_dir)
    try:
        results = {op.name: f"raised in {runner.raised[op.name]} executions"
                   for op in wl.ops if op.name in runner.raised}
        try:
            for name, reason in wl.check(ctx, con, wl.ops).items():
                results.setdefault(name, reason)
        except Exception:
            reason = "check raised: " + traceback.format_exc(limit=2)
            for op in wl.ops:
                results.setdefault(op.name, reason)
        rows = 0
        for op in wl.ops:
            results.setdefault(op.name, None)
            if os.path.isdir(ctx.out(op.name)):
                rows += checks.count_rows(con, ctx.out(op.name))
    finally:
        con.close()
    return results, rows


def end_to_end(setup_s: float, pass_s: float, rows: int,
               rss_mb: float) -> dict:
    return {"setup_s": setup_s, "pass_s": pass_s, "rows_per_s": rows / pass_s,
            "peak_rss_mb": rss_mb}


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict) -> dict:
    """The result object; each metric's unit is the one BENCHMARK.json
    gives it (a metric it does not name raises ``KeyError``)."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"]
             for m in bench["end_to_end"] + bench["per_layer"]}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(REPO, "__spark_entry__.py")) or \
            not os.path.isdir(os.path.join(REPO, "feathr_spark")):
        sys.stderr.write("perfbench: the engine (__spark_entry__.py, "
                         "feathr_spark/) is not in this checkout\n")
        return 2
    sys.path.insert(0, REPO)
    from perfbench import fixture
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}\n")
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(REPO, ".perfbench-work",
                        f"{wl.name}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    fixture_dir = os.path.join(work, "fixture")
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        import __spark_entry__ as entry
        session_s = time.perf_counter() - t0

        fixture_s, digests, manifest = [], set(), None
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            manifest = fixture.generate(fixture_dir, args.seed, wl.scale,
                                        wl.corpus_scale)
            fixture_s.append(time.perf_counter() - t)
            digests.add(fixture.digest(fixture_dir))

        runner = Runner(spark, entry, wl, fixture_dir,
                        os.path.join(work, "out"))
        t = time.perf_counter()
        warm = runner.warm_up()
        warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(fixture_s) + warmup_s

        untraced_s = args.seconds / 2 if args.trace else args.seconds
        # the peak covers the measured passes only, not the fixture
        # writes and warm-up above nor the checks below
        reset_peak_rss()
        ticks = cpu_ticks()
        walls = runner.passes_for(untraced_s)
        steal = steal_share(ticks, cpu_ticks())
        pass_s = statistics.median(walls)
        rss = peak_rss_mb()
        records = (traced_passes(runner, args.seconds - untraced_s, work)
                   if args.trace else [])
        results, rows = run_checks(runner)
        app_id = spark.sparkContext.applicationId
        stop_session(spark)
        spark = None

        failed = sum(runner.executions.get(op, 0)
                     for op, reason in results.items() if reason)
        correct = failed == 0 and len(digests) == 1
        report = {
            "workload": wl.name, "seed": args.seed, "cores": cores(),
            "trace": args.trace, "fixture": manifest,
            "fixture_identical_over_reps": len(digests) == 1,
            "setup": {"session_s": session_s, "fixture_s": fixture_s,
                      "warmup_pass_s": warm, "warmup_s": warmup_s},
            "pass_s": quartiles(walls), "pass_walls_s": walls,
            "host_steal_share": steal,
            "rows_per_pass": rows,
            "op_median_s": {k: statistics.median(v) if v else None
                            for k, v in runner.op_seconds.items()},
            "checks": results, "failed_share": failed / runner.attempted,
        }
        if args.trace:
            from perfbench.eventlog import read_events, summarize
            log = os.path.join(work, "eventlog", app_id)
            metrics = layer_metrics(records, wl, summarize(read_events(log)),
                                    pass_s)
            report["traced_pass_s"] = quartiles([r["wall"] for r in records])
            report["spans_last_pass"] = [
                [op, step, round(b - a, 4)]
                for op, step, a, b in records[-1]["recorder"].spans]
        else:
            metrics = end_to_end(setup_s, pass_s, rows, rss)
        print(json.dumps(report, default=str))
        print(json.dumps(result_line(correct, runner.attempted, failed,
                                     metrics)))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
