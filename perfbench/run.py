#!/usr/bin/env python3
"""The repository benchmark: the ingest daemon (``tail``) and interactive
queries (``queries``).

    python3 perfbench/run.py --workload {tail,queries} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. One process, ``local[4]``, with the
program's session settings except a fixed 2 GB driver heap (``JVM_HEAP``). Inputs are generated from ``--seed``
into ``.bench_work/`` (deleted at exit) before the session starts; the
program sees only those files. The last line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (from the Spark event log and the benchmark's own spans and job
groups; end-to-end numbers of a traced run go to stderr only, see
``overhead.py``). Progress and check failures go to stderr.
See NOTES.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import json
import os
import shlex
import shutil
import sys
import time

import stats
import tracing
from metrics import END_TO_END, FAMILIES, PER_LAYER, TABLES

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
# The program's default driver heap is 8 GB. With it, the JVM grows its heap
# as its collector sees fit, and peak_rss_mb varied by a quarter (queries) to
# a half (tail) between runs of the same code. A 2 GB heap committed at start
# (-Xms) holds it within a few percent; the times did not change with it.
JVM_HEAP = "2g"
# waits on the program give up once a run has used this much, so a hung
# stream still ends the run (failed) within the 180 s a run may take
RUN_BUDGET_S = 150.0


class Ctx:
    """What a workload needs: the session, its work dir and seed, and
    where to put metrics and check outcomes."""

    def __init__(self, spark, work: str, seed: int, seconds: int, trace: bool, spans, rss):
        self.spark, self.work, self.seed, self.seconds, self.trace = spark, work, seed, seconds, trace
        self.spans, self.rss = spans, rss
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        # traced tail: (batches, lines, ledger namespace, first batch id)
        self.stream_batches: tuple[int, int, str | None, int] | None = None
        self.state_dir: str | None = None
        self.backfill_input: str | None = None

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.note(f"FAILED: {what}")
        return bool(ok)

    @staticmethod
    def note(msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def group(self, name: str):
        if not self.trace:
            return contextlib.nullcontext()
        return tracing.job_group(self.spark.sparkContext, name)

    @staticmethod
    def time_left() -> float:
        return RUN_BUDGET_S - (time.perf_counter() - T0)

    def add_layer(self, name: str, value: float) -> None:
        self.layers[name] = self.layers.get(name, 0.0) + value

    def mark_peak(self) -> None:
        """The program's work is done: read ``peak_rss_mb`` now, before
        the benchmark's own checks run in the same process tree."""
        self.e2e["peak_rss_mb"] = self.rss.read()


def launch_env(work: str, trace: bool) -> str:
    """The benchmark's launch config: everything the JVM and Python
    workers write stays under ``work``; traced runs add the event log."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(events)
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP}"}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ.update({
        "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "SPARK_DRIVER_MEMORY": JVM_HEAP,  # read by session.get_spark
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    return events


def start_session(cpus: int):
    """``session.get_spark`` plus a first job; returns (spark, get_spark
    seconds, total seconds)."""
    t0 = time.perf_counter()
    from maillog2db_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, t1 - t0, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def eventlog_layers(ctx, log, tracer_spans) -> None:
    """Fold the event log and the merge spans into per-layer metrics."""
    L = ctx.layers
    if ctx.stream_batches:
        n, lines, ns, min_batch = ctx.stream_batches

        def in_window(name: str) -> bool:
            parts = name.split("|")
            return (len(parts) == 4 and parts[0] == "batch" and parts[1] == ns
                    and int(parts[2]) >= min_batch)

        tot = log.total(in_window)
        L["streaming.jobs_per_batch"] = tot.jobs / n
        L["streaming.stages_per_batch"] = tot.stages / n
        L["streaming.tasks_per_batch"] = tot.tasks / n
        L["streaming.executor_run_s_per_batch"] = tot.run_s / n
        L["streaming.executor_cpu_s_per_batch"] = tot.cpu_s / n
        L["streaming.gc_s"] = tot.gc_s / n
        L["streaming.shuffle_bytes_per_line"] = tot.shuffle_write_bytes / max(lines, 1)
        for t in TABLES:
            L[f"streaming.merge_{t}_jobs"] = log.total(
                lambda g: in_window(g) and g.endswith(f"|merge_{t}")).jobs / n
            L[f"streaming.merge_{t}_s"] = stats.median([
                s.end - s.start for s in tracer_spans
                if s.name.endswith(f"|merge_{t}") and in_window(s.name)])
        state = sum(L.get(f"streaming.state_bytes_{t}", 0) for t in TABLES)
        L["streaming.state_rewrite_ratio"] = tot.output_bytes / n / max(state, 1)
    for f in FAMILIES:
        build = log.total(lambda g: g == f"q|{f}|build")
        ex = log.total(lambda g: g == f"q|{f}|exec")
        L[f"queries.{f}.jobs_in_build"] = build.jobs
        L[f"queries.{f}.jobs"] = ex.jobs
        L[f"queries.{f}.stages"] = ex.stages
        L[f"queries.{f}.tasks"] = ex.tasks
        L[f"queries.{f}.shuffle_bytes"] = ex.shuffle_write_bytes
        L[f"queries.{f}.executor_cpu_s"] = ex.cpu_s


def run(args, work: str) -> dict:
    import ingest
    import interactive
    from maillog2db_spark import streaming

    prepare, workload = {"tail": (ingest.prepare, ingest.tail),
                         "queries": (interactive.prepare, interactive.queries)}[args.workload]
    events_dir = launch_env(work, args.trace)
    inputs = prepare(work, args.seed, args.seconds)
    with stats.PeakRss() as rss:
        spark, get_spark_s, setup_s = start_session(CPUS)
        spans = tracing.Spans()
        ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace), spans, rss)
        ctx.e2e["setup_s"] = setup_s
        ctx.layers["session.get_spark_s"] = get_spark_s
        tracer = ctx.tracer = tracing.MergeTracer(streaming, spans) if args.trace else None
        try:
            workload(ctx, inputs)
        except Exception as e:  # a crashed workload is a failed run, still reported
            import traceback

            traceback.print_exc()
            ctx.check(False, f"{args.workload} raised {type(e).__name__}: {e}")
        finally:
            if tracer is not None:
                tracer.close()
        if "peak_rss_mb" not in ctx.e2e:
            ctx.mark_peak()
    if ctx.state_dir:
        for t in TABLES:
            ctx.layers[f"streaming.state_bytes_{t}"] = dir_bytes(os.path.join(ctx.state_dir, t))
    app_id = spark.sparkContext.applicationId
    if ctx.backfill_input:
        # the single-threaded reference point: the same backfill on local[1]
        spark.stop()
        spark, _, _ = start_session(1)
        ctx.layers["backfill.local1_lines_per_s"] = ingest.backfill_once(
            ctx, spark, ctx.backfill_input, "local1")
    stop_session(spark)

    if args.trace:
        logs = glob.glob(os.path.join(events_dir, app_id + "*"))
        if ctx.check(len(logs) == 1, f"event log for {app_id}"):
            log = tracing.EventLog(logs[0])
            eventlog_layers(ctx, log, spans.spans)
            dump = os.path.join(ROOT, ".bench_work", f"trace-{args.workload}-seed{args.seed}.json")
            with open(dump, "w") as f:
                json.dump({"spans": [vars(s) for s in spans.spans],
                           "job_groups": {g: vars(s) for g, s in sorted(log.groups.items())}},
                          f, indent=1)
            ctx.note(f"spans and job-group totals written to {dump}")
        ctx.note("traced end-to-end: " + json.dumps(ctx.e2e, sort_keys=True))
        metrics = {k: {"value": float(ctx.layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(ctx.e2e.get(k, 0.0)), "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        ctx.note(f"{k:40s} {m['value']:.6g} {m['unit']}")
    ctx.note(f"checks: {ctx.attempted - ctx.failed}/{ctx.attempted} passed")
    return {"correct": ctx.failed == 0, "attempted": max(ctx.attempted, 1),
            "failed": ctx.failed if ctx.attempted else 1, "metrics": metrics}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("tail", "queries"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import maillog2db_spark  # the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(maillog2db_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: maillog2db_spark is not this checkout's: {maillog2db_spark.__file__}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
