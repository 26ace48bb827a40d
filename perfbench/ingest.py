"""The ingest workload ``tail``: the daemon following one growing file.

It drives only ``streaming.start_ingest``. Its correctness checks run
outside the timed regions and compare the state store, read with
``ParquetStateStore.read``, against ``pipeline.process_lines`` over the
same lines in file order.
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
from datetime import datetime
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maillog2db_spark import parsing, pipeline, streaming, tables

import maillog_gen
import stats
from metrics import TABLES

YEAR = maillog_gen.YEAR
# The reference's own columns per table. clients.client_firstseen and
# client_seen_count are derived extras: a replay re-counts seen_count by
# design (see the streaming module docstring), so they are left out.
REF_COLS = {
    "logs": tables.LOG_PAYLOAD_COLS,
    "clients": ["client", "client_rdns", "client_addr", "client_lastseen"],
    "messages": ["message_queueid"] + [c for cols in streaming.MESSAGE_GROUPS.values() for c in cols],
    "deliveries": tables.DELIVERY_PAYLOAD_COLS,
}

# The backlog the daemon finds at start. Its query-start batch fills the
# store, outside the latency window, to four times what a 5 s window
# appends: per-batch merge cost grows with state, so against a small store
# latency would drift with run length. (A larger store made a run too long
# for the benchmark's time budget on a slow host.)
BACKLOG_LINES = 20_000
# open loop: CHUNK_LINES lines every TICK_S seconds (1,000 lines/s), 100
# chunks in a 5 s window, enough for a 90th percentile with ten beyond it
CHUNK_LINES = 50
TICK_S = 0.05
TIMEOUT_S = 120.0


# --- correctness -----------------------------------------------------------


def digests(frames: dict[str, DataFrame]) -> dict[str, tuple[int, int]]:
    """Order-insensitive (row count, hash sum) per frame over its table's
    reference columns, all in one Spark job. Keys are ``<label>/<table>``.
    ``to_json`` keeps column names, so a value moving between nullable
    columns changes the hash."""
    parts = [
        df.select(
            F.lit(k).alias("k"),
            F.xxhash64(F.to_json(F.struct(*REF_COLS[k.rsplit("/", 1)[1]]))).cast("decimal(38,0)").alias("h"),
        )
        for k, df in frames.items()
    ]
    rows = reduce(DataFrame.unionByName, parts).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()
    out = {k: (0, 0) for k in frames}
    out.update({r["k"]: (r["n"], int(r["s"] or 0)) for r in rows})
    return out


def store_frames(spark: SparkSession, store_dir: str, label: str) -> dict[str, DataFrame]:
    store = streaming.ParquetStateStore(store_dir)
    return {f"{label}/{t}": store.read(spark, t) for t in TABLES}


def reference_frames(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """``process_lines`` over the file in line order (byte-range partitions
    in order), labelled ``ref``."""
    lines = spark.read.text(path).withColumn("seq", F.monotonically_increasing_id())
    t = pipeline.process_lines(lines, seq_col="seq", year=YEAR, materialize=True)
    return {"ref/logs": t.logs, "ref/clients": t.clients, "ref/messages": t.messages,
            "ref/deliveries": t.deliveries}


def check_store(ctx, d: dict, got: str, want: str, what: str) -> None:
    for t in TABLES:
        a, b = d[f"{got}/{t}"], d[f"{want}/{t}"]
        ctx.check(a == b, f"{what}: {t} {a[0]} rows vs {b[0]}")


# --- progress ----------------------------------------------------------------


def _commit_time(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1e3


def _end_pos(p: dict) -> int:
    """The tail source's committed byte offset; PySpark renders the
    ``{"pos": N}`` offset as a string."""
    return int(re.search(r"\d+", str(p["sources"][0]["endOffset"])).group())


def data_batches(q) -> list[dict]:
    """Progress of every micro-batch that read rows, by batch id."""
    seen: dict[int, dict] = {}
    for p in q.recentProgress:
        if p["numInputRows"] > 0:
            seen[p["batchId"]] = p
    return [seen[b] for b in sorted(seen)]


def await_query(ctx, q, label: str) -> bool:
    try:
        if not q.awaitTermination(max(ctx.time_left(), 1.0)):
            q.stop()
            return ctx.check(False, f"{label}: timed out")
    except Exception as e:  # the stream died: count it, keep the run going
        return ctx.check(False, f"{label}: {e}")
    return ctx.check(q.exception() is None, f"{label}: {q.exception()}")


# --- tail --------------------------------------------------------------------


class Appender(threading.Thread):
    """Open-loop generator: chunk k is due at ``t0 + k * TICK_S`` whether
    or not the daemon keeps up. Logs (due, written, end offset) per chunk."""

    def __init__(self, path: str, chunks: list[bytes], start_offset: int):
        super().__init__(name="appender", daemon=True)
        self.path, self.chunks, self.offset = path, chunks, start_offset
        self.log: list[tuple[float, float, int]] = []

    def run(self) -> None:
        t0 = time.time()
        with open(self.path, "ab") as f:
            for k, data in enumerate(self.chunks):
                due = t0 + k * TICK_S
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                f.write(data)
                f.flush()
                self.offset += len(data)
                self.log.append((due, time.time(), self.offset))

    def written_by(self, t: float, floor: int) -> int:
        return max([off for _, w, off in self.log if w <= t], default=floor)


def _wait_for(ctx, q, label: str, pred, timeout: float) -> list[dict] | None:
    timeout = min(timeout, ctx.time_left())
    deadline = time.time() + timeout
    while time.time() < deadline:
        if q.exception() is not None or not q.isActive:
            ctx.check(False, f"{label}: stream stopped: {q.exception()}")
            return None
        batches = data_batches(q)
        if batches and pred(batches):
            return batches
        time.sleep(0.1)
    ctx.check(False, f"{label}: timed out after {timeout:.0f}s")
    return None


def prepare(work: str, seed: int, seconds: int) -> tuple[str, int, list[bytes]]:
    """The live file holding the backlog, its size, and the chunks the
    generator will append (one per tick for ``seconds`` seconds)."""
    gen = maillog_gen.MaillogGenerator(seed)
    path = os.path.join(work, "maillog")
    size0 = maillog_gen.write_lines(path, gen.lines(BACKLOG_LINES))
    n_chunks = max(1, int(round(seconds / TICK_S)))
    return path, size0, [("\n".join(gen.lines(CHUNK_LINES)) + "\n").encode() for _ in range(n_chunks)]


def tail(ctx, inputs: tuple[str, int, list[bytes]]) -> None:
    """The daemon's life cycle on one growing file, through the
    ``maillog`` tail source:

    1. start on a backlog of BACKLOG_LINES lines and ingest it into a
       fresh store (the query-start batch; ``cold_per_s`` is its lines
       per second from ``start_ingest`` to commit);
    2. follow appends while the open-loop generator writes 1,000 lines/s
       for ``--seconds`` seconds; each chunk's latency runs from when it
       was due to the commit of the batch holding it; drain until the
       committed offset equals the file size, then ``stop()``;
    3. restart with a fresh checkpoint, which replays the file from byte
       0 against the full store (every line a duplicate); ``warm_per_s``
       is its lines per second from ``start_ingest`` to commit.

    The checks run after all three, once ``peak_rss_mb`` is read, on a
    copy of the store taken between steps 2 and 3.
    """
    spark, work = ctx.spark, ctx.work
    path, size0, chunks = inputs
    store = os.path.join(work, "store")

    t_start = time.time()
    q = streaming.start_ingest(spark, path, store, os.path.join(work, "ckpt"), year=YEAR,
                               tail_file=True)
    first = _wait_for(ctx, q, "query-start batch", lambda b: _end_pos(b[-1]) >= size0, TIMEOUT_S)
    if first is None:
        q.stop()
        return
    start_batch = first[-1]["batchId"]
    ctx.e2e["cold_per_s"] = BACKLOG_LINES / (_commit_time(first[-1]) - t_start)
    ns = ctx.tracer.current[0] if ctx.tracer and ctx.tracer.current else None

    app = Appender(path, chunks, size0)
    with ctx.spans.span("tail|window"):
        app.start()
        while app.is_alive():
            app.join(timeout=0.5)
            if q.exception() is not None:
                ctx.check(False, f"tail window: {q.exception()}")
                break
        app.join()
        done = _wait_for(ctx, q, "drain", lambda b: _end_pos(b[-1]) >= app.offset, TIMEOUT_S)
    ctx.check(q.exception() is None, f"tail: {q.exception()}")
    q.stop()
    ctx.note("tail drained and stopped")
    if done is None:
        return

    steady = [p for p in done if p["batchId"] > start_batch]
    commits = [(_end_pos(p), _commit_time(p)) for p in steady]
    ctx.check(all(a[0] <= b[0] for a, b in zip(commits, commits[1:])), "tail offsets advance")
    lat = []
    for due, _, end in app.log:
        holder = next((c for pos, c in commits if pos >= end), None)
        if ctx.check(holder is not None, "chunk committed"):
            lat.append(holder - due)
    late_ms = [(w - due) * 1e3 for due, w, _ in app.log]
    ctx.e2e["latency_p50_s"] = stats.median(lat)
    ctx.e2e["latency_p90_s"] = stats.quantile(lat, stats.tail_percentile(len(lat), 0.9))
    ctx.note(f"tail: backlog {BACKLOG_LINES} lines in {BACKLOG_LINES / ctx.e2e['cold_per_s']:.2f}s; "
             f"{len(steady)} batches of {[p['numInputRows'] for p in steady]} lines; "
             f"{len(lat)} chunk latencies, p50 {ctx.e2e['latency_p50_s']:.2f}s; "
             f"generator late max {max(late_ms):.1f} ms")

    committed = _end_pos(done[-1])
    tail_copy = os.path.join(work, "store_after_tail")
    shutil.copytree(store, tail_copy)  # untimed: file copy only, no Spark work

    t0 = time.time()
    q2 = streaming.start_ingest(spark, path, store, os.path.join(work, "ckpt_replay"),
                                year=YEAR, tail_file=True)
    rep = _wait_for(ctx, q2, "replay", lambda b: _end_pos(b[-1]) >= committed, TIMEOUT_S)
    ctx.check(q2.exception() is None, f"replay: {q2.exception()}")
    q2.stop()
    ctx.mark_peak()
    if rep is not None:
        replayed = sum(p["numInputRows"] for p in rep)
        ctx.e2e["warm_per_s"] = replayed / (_commit_time(rep[-1]) - t0)
        ctx.note(f"replay: {replayed} lines in {replayed / ctx.e2e['warm_per_s']:.2f}s")

    # untimed: the store the tail left equals the batch pipeline over the
    # committed prefix, and the replay left every reference column as it was
    ref_path = os.path.join(work, "committed_prefix")
    with open(path, "rb") as src, open(ref_path, "wb") as dst:
        dst.write(src.read(committed))
    frames = {**store_frames(spark, tail_copy, "tail"), **reference_frames(spark, ref_path)}
    if rep is not None:
        frames.update(store_frames(spark, store, "replay"))
    d = digests(frames)
    check_store(ctx, d, "tail", "ref", "tail store vs process_lines")
    if rep is not None:
        check_store(ctx, d, "replay", "tail", "replay changed the store")
    ctx.note("stores checked")

    if ctx.trace:
        L = ctx.layers
        dur = lambda k: [p["durationMs"].get(k, 0) for p in steady]  # noqa: E731
        lines = sum(p["numInputRows"] for p in steady)
        L["sources.latest_offset_ms_p50"] = stats.median(dur("latestOffset"))
        L["sources.get_batch_ms_p50"] = stats.median(dur("getBatch"))
        L["sources.lines_per_batch_p50"] = stats.median([p["numInputRows"] for p in steady])
        L["sources.backlog_bytes_max"] = max(app.written_by(c, size0) - pos for pos, c in commits)
        L["bench.generator_late_ms_max"] = max(late_ms)
        L["streaming.batch_ms_p50"] = stats.median(dur("addBatch"))
        L["streaming.trigger_ms_p50"] = stats.median(dur("triggerExecution"))
        L["streaming.wal_commit_ms_p50"] = stats.median(dur("walCommit"))
        L["streaming.query_planning_ms_p50"] = stats.median(dur("queryPlanning"))
        L["streaming.lines_per_busy_s"] = lines / (sum(dur("triggerExecution")) / 1e3)
        ctx.stream_batches = (len(steady), lines, ns, start_batch + 1)
        ctx.state_dir = store
        layer_probes(ctx, ref_path)


def layer_probes(ctx, path: str) -> None:
    """Traced runs only, over the committed log: ``parsing.lines_per_s``
    and ``tables.build_*_s`` (each through a ``noop`` sink), and the
    ``-once`` backfill path (JVM text source, ``available_now``) into a
    fresh store."""
    spark = ctx.spark
    lines = spark.read.text(path)
    n_lines = lines.count()
    with ctx.group("layer|parsing"):
        t0 = time.perf_counter()
        parsing.parse_lines(lines, year=YEAR).write.format("noop").mode("overwrite").save()
        ctx.layers["parsing.lines_per_s"] = n_lines / (time.perf_counter() - t0)
    parsed = parsing.parse_lines(lines, year=YEAR).persist()
    parsed.count()
    build_fns = {"logs": tables.build_logs, "clients": tables.build_clients,
                 "messages": tables.build_messages, "deliveries": tables.build_deliveries}
    for t, build in build_fns.items():
        with ctx.group(f"layer|tables|{t}"):
            t0 = time.perf_counter()
            build(parsed).write.format("noop").mode("overwrite").save()
            ctx.layers[f"tables.build_{t}_s"] = time.perf_counter() - t0
    parsed.unpersist()
    ctx.layers["backfill.lines_per_s"] = backfill_once(ctx, spark, path, "local4")
    ctx.backfill_input = path


def backfill_once(ctx, spark: SparkSession, path: str, label: str) -> float:
    """``start_ingest(available_now=True)`` over a drop zone holding one
    copy of ``path``, into a fresh store; lines per second."""
    drop = os.path.join(ctx.work, f"dropzone_{label}")
    os.makedirs(drop)
    shutil.copy(path, drop)
    n_lines = spark.read.text(drop).count()
    t0 = time.perf_counter()
    q = streaming.start_ingest(spark, drop, os.path.join(ctx.work, f"store_{label}"),
                               os.path.join(ctx.work, f"ckpt_{label}"), year=YEAR,
                               available_now=True)
    ok = await_query(ctx, q, f"backfill {label}")
    return n_lines / (time.perf_counter() - t0) if ok else 0.0
