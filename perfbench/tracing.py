"""Traced-run tooling: job groups, spans and the Spark event-log parser.

Only ``--trace 1`` runs use this module. The event log is switched on
by the benchmark's launch config (``run.launch_env``); every Spark job
the benchmark causes carries a job group that names the layer, table,
batch or query family it belongs to, and ``EventLog`` folds the log's
job, stage and task records back onto those groups.

Job-group ids are ``|``-separated paths, for example
``batch|<ns>|3|merge_logs`` or ``q|doc|exec``.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float


class Spans:
    """In-memory spans, kept until the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.spans.append(Span(name, t0, time.time()))


@contextlib.contextmanager
def job_group(sc, group: str):
    """Tag every job submitted from this thread inside the block."""
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


MERGE_METHODS = ("merge_append_dedup", "merge_clients", "merge_messages")


class MergeTracer:
    """Wraps ``streaming.merge_batch`` and the ``ParquetStateStore.merge_*``
    methods from outside: each merge call gets a span and a job group
    ``batch|<ledger ns>|<batch id>|merge_<table>``. Undo with ``close``."""

    def __init__(self, streaming_mod, spans: Spans):
        self.mod = streaming_mod
        self.spans = spans
        self.current: tuple[str, int] | None = None
        self._saved: dict[str, object] = {}
        store_cls = streaming_mod.ParquetStateStore
        self._saved["merge_batch"] = streaming_mod.merge_batch
        for m in MERGE_METHODS:
            self._saved[m] = getattr(store_cls, m)

        orig_batch = streaming_mod.merge_batch

        def merge_batch(batch_df, batch_id, store, *args, **kwargs):
            ns = kwargs.get("ledger_ns", "default")
            self.current = (ns, int(batch_id))
            sc = batch_df.sparkSession.sparkContext
            with job_group(sc, f"batch|{ns}|{batch_id}|stream"), \
                    self.spans.span(f"batch|{ns}|{batch_id}"):
                return orig_batch(batch_df, batch_id, store, *args, **kwargs)

        streaming_mod.merge_batch = merge_batch
        for m in MERGE_METHODS:
            setattr(store_cls, m, self._wrap(self._saved[m], m))

    def _wrap(self, fn, method: str):
        tracer = self

        def wrapped(store, spark, *args, **kwargs):
            table = args[0] if method == "merge_append_dedup" else method.split("_", 1)[1]
            ns, bid = tracer.current or ("none", -1)
            name = f"batch|{ns}|{bid}|merge_{table}"
            with job_group(spark.sparkContext, name), tracer.spans.span(name):
                return fn(store, spark, *args, **kwargs)

        return wrapped

    def close(self) -> None:
        self.mod.merge_batch = self._saved["merge_batch"]
        for m in MERGE_METHODS:
            setattr(self.mod.ParquetStateStore, m, self._saved[m])


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                  "shuffle_write_bytes", "output_bytes"):
            setattr(self, k, getattr(self, k) + getattr(other, k))


class EventLog:
    """Per-job-group job, stage and task totals from one uncompressed
    Spark event log. A stage counts once, for the first job that ran it
    (stages skipped by later jobs are not re-counted)."""

    def __init__(self, path: str):
        stage_group: dict[int, str] = {}
        ran_stages: set[int] = set()
        self.groups: dict[str, GroupStats] = defaultdict(GroupStats)
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "(none)"
                    self.groups[g].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid not in ran_stages:
                        ran_stages.add(sid)
                        self.groups[stage_group.get(sid, "(none)")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = self.groups[stage_group.get(ev["Stage ID"], "(none)")]
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.run_s += m.get("Executor Run Time", 0) / 1e3
                    g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    g.gc_s += m.get("JVM GC Time", 0) / 1e3
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)

    def total(self, pred) -> GroupStats:
        out = GroupStats()
        for name, g in self.groups.items():
            if pred(name):
                out.add(g)
        return out
