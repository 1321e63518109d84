"""``ingest_txn``: an open-loop file stream into the exactly-once
manifest sink, with no Python in the data path.

A generator thread writes one small stamped file every
``1 / RATE_FILES_PER_S`` seconds into the inbox, on schedule however
far the engine falls behind. A ``Pipeline`` with the default trigger
filters and projects in Catalyst and commits each micro-batch through
``FrSink.manifest``. Each file's latency runs from its due time to the
commit of the manifest version that holds it.

A run pools ``SESSIONS`` pipeline sessions, each into a fresh table:
the sink's commit cost grows with the table's version count, so each
session stays short (``--seconds / SESSIONS`` of stream), far below
that cliff.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import common
import fixtures
from w_query import ensure_primed
from workloads import Context, TimedSink, event_log_layers, finish, phase_medians

RATE_FILES_PER_S = 5.0
ROWS_PER_FILE = 200
SESSIONS = 2
#: At least 70 latency samples per run (a p80 tail). A session of 35
#: files commits about 18 versions, far below the commit cliff. At
#: 10 files/s the batches grow and latency wanders between sessions.
MIN_FILES_PER_SESSION = 35
USERS = 1500
#: Longest the engine may take to commit the last file of a session.
DRAIN_TIMEOUT_S = 60.0


def transform(df):
    """Catalyst-only filter and projection."""
    from pyspark.sql import functions as F

    return df.filter(F.col("event_type") != "error").select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("value") * 2).alias("value2"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


class Generator(threading.Thread):
    """Writes ``tables[i]`` into ``inbox`` at ``t0 + i / rate``.

    Each file is written beside the inbox and renamed in, so the
    source never lists a partial file. ``due`` and ``done`` hold the
    scheduled and actual epoch seconds of every file.
    """

    def __init__(self, tables, inbox: Path, tmp: Path, t0: float, rate: float,
                 clock=time.time, sleep=time.sleep) -> None:
        super().__init__(daemon=True)
        self.tables, self.inbox, self.tmp = tables, inbox, tmp
        self.t0, self.rate = t0, rate
        self.clock, self.sleep = clock, sleep
        self.due: list[float] = []
        self.done: list[float] = []
        self.names: list[str] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, tbl in enumerate(self.tables):
                due = self.t0 + i / self.rate
                wait = due - self.clock()
                if wait > 0:
                    self.sleep(wait)
                name = f"f{i:05d}.parquet"
                pq.write_table(tbl, self.tmp / name)
                os.replace(self.tmp / name, self.inbox / name)
                self.due.append(due)
                self.done.append(self.clock())
                self.names.append(name)
        except BaseException as exc:  # reported by the caller after join
            self.error = exc


def lateness(gen: Generator) -> list[float]:
    """Seconds each file landed after its due time."""
    return [d - u for u, d in zip(gen.due, gen.done)]


def latencies(due: list[float], committed: list[float]) -> list[float]:
    """Seconds from each file's due time (not from when the generator
    got round to writing it) to the commit that holds it."""
    return [c - u for u, c in zip(due, committed)]


def backlog_max(due: list[float], committed: list[float]) -> int:
    """Most files due but not yet committed at any moment (the count
    peaks when a file falls due, so it is taken at the due times)."""
    return max(
        (sum(1 for u in due if u <= t) - sum(1 for c in committed if c <= t)
         for t in due),
        default=0,
    )


def file_batches(ckpt: Path) -> dict[str, int]:
    """File name → micro-batch id, from the file source's offset log."""
    out: dict[str, int] = {}
    for f in (ckpt / "sources" / "0").iterdir():
        if f.name.startswith("."):
            continue  # checksum files
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    name = e["path"].rsplit("/", 1)[-1]
                    out[name] = min(e["batchId"], out.get(name, e["batchId"]))
    return out


def commits(table: Path) -> dict[int, float]:
    """Batch id → commit epoch seconds, from the table's manifests.
    A manifest still being written is skipped."""
    out = {}
    for f in (table / "_manifest").glob("v*.json"):
        try:
            m = json.loads(f.read_text())
        except json.JSONDecodeError:
            continue
        out[m["batch_id"]] = m["committed_at"]
    return out


def session(ctx: Context, s: int, tables: list, commit_s: list | None) -> dict:
    """One pipeline session into a fresh table; returns its samples."""
    from frafka_spark.streaming.pipeline import Pipeline
    from frafka_spark.streaming.sink import FrSink
    from frafka_spark.streaming.source import FrSource

    base = ctx.run_dir / f"s{s}"
    inbox, tmp, table = base / "inbox", base / "tmp", base / "table"
    for d in (inbox, tmp):
        d.mkdir(parents=True)
    # the first file is staged before start(): start() → its commit is
    # the session's cold time; the open loop begins after that commit
    pq.write_table(tables[0], inbox / "f_cold.parquet")
    sink = FrSink.manifest(str(table))
    if commit_s is not None:
        sink = TimedSink(sink, commit_s)
    p = Pipeline(
        FrSource.files(ctx.spark, str(inbox), fixtures.EVENTS_DDL, max_files_per_trigger=None),
        transform,
        sink,
        checkpoint=str(base / "ckpt"),
        name=f"txn-{s}",
    )
    t_start = time.time()
    q = p.start(available_now=False)
    try:
        while not (table / "_manifest").is_dir() or 0 not in commits(table):
            if q.exception() is not None or time.time() - t_start > DRAIN_TIMEOUT_S:
                raise RuntimeError(f"no first commit: {q.exception()}")
            time.sleep(0.005)
        cold = commits(table)[0] - t_start
        gen = Generator(tables[1:], inbox, tmp, time.time() + 0.05, RATE_FILES_PER_S)
        gen.start()
        gen.join()
        if gen.error is not None:
            raise gen.error
        want_rows = ROWS_PER_FILE * len(tables)
        deadline = time.time() + DRAIN_TIMEOUT_S
        while sum(pr["numInputRows"] for pr in q.recentProgress) < want_rows:
            if q.exception() is not None or time.time() > deadline:
                raise RuntimeError(f"files not committed: {q.exception()}")
            time.sleep(0.02)
        progress = list(q.recentProgress)
        events = len(p.events())
    finally:
        q.stop()
        p.close()
    late = len(p.events())
    fb = file_batches(base / "ckpt")
    cm = commits(table)
    committed = [cm[fb[n]] for n in gen.names]
    return {
        "table": table,
        "cold_s": cold,
        "latency_ms": [1000 * x for x in latencies(gen.due, committed)],
        "lateness_ms": [1000 * x for x in lateness(gen)],
        "first_due": gen.due[0] if gen.due else t_start,
        "last_commit": max(cm.values()),
        "progress": [pr for pr in progress if pr["numInputRows"] > 0],
        "committed": cm,
        "backlog_max": backlog_max(gen.due, committed),
        "events": events,
        "late_events": late,
    }


def check_session(ctx: Context, sess: dict, tables: list) -> int:
    """The table holds every kept record exactly once, and its batch
    ids equal the progress batch ids. Returns committed records."""
    from frafka_spark.sources import manifest_table as mt

    import pandas as pd

    want = pd.concat([t.to_pandas() for t in tables])
    want = want[want["event_type"] != "error"]
    got = mt.read_table(ctx.spark, str(sess["table"])).select("event_id").toPandas()
    ids = got["event_id"].tolist()
    ok = len(ids) == len(set(ids)) and set(ids) == set(want["event_id"].tolist())
    ctx.ops.check(ok, f"table {sess['table'].parent.name}: rows not exactly once")
    batch_ids = mt.committed_batch_ids(str(sess["table"]))
    progress_ids = {pr["batchId"] for pr in sess["progress"]}
    ctx.ops.check(batch_ids == progress_ids,
                  f"committed batches {sorted(batch_ids)} != progress {sorted(progress_ids)}")
    return len(ids)


def run(ctx: Context) -> str:
    files = max(MIN_FILES_PER_SESSION, math.ceil(RATE_FILES_PER_S * ctx.seconds / SESSIONS))
    rng = np.random.default_rng(ctx.seed)
    plans = [
        [fixtures.events_table(rng, ROWS_PER_FILE, (s * (files + 1) + i) * ROWS_PER_FILE, USERS) for i in range(files + 1)]
        for s in range(SESSIONS)
    ]
    spark = ctx.open("fsbench-ingest_txn")
    setup_s = ctx.since_start()
    # warm-up, not measured: a session that commits one file, so the
    # JVM is warm for the first measured start() → commit
    warm = [fixtures.events_table(rng, ROWS_PER_FILE, 10**9, USERS)]
    ctx.ops.timed(lambda: session(ctx, 99, warm, None))
    ctx.mark("warmup")

    commit_s: list | None = [] if ctx.trace else None
    meter = common.JvmMeter(spark) if ctx.trace else None
    t_phase = time.time() * 1000
    sessions = []
    for s in range(SESSIONS):
        secs, sess = ctx.ops.timed(lambda s=s: session(ctx, s, plans[s], commit_s))
        if secs is not None:
            sessions.append((s, sess))
    t_phase_end = time.time() * 1000
    jvm = meter.delta() if meter else {}

    ctx.mark("measure")
    committed = 0
    for s, sess in sessions:
        committed += check_session(ctx, sess, plans[s])
    ctx.mark("checks")
    ensure_primed(ctx, spark, str(ctx.data_dir()))
    latency = [x for _, s in sessions for x in s["latency_ms"]]
    span = sum(s["last_commit"] - s["first_due"] for _, s in sessions)
    # records of the open-loop files only (the cold file is not timed)
    kept_open = committed - sum(
        int((plans[s][0].column("event_type").to_numpy(zero_copy_only=False) != "error").sum())
        for s, _ in sessions
    )
    summary = common.summarize(latency)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": kept_open / span if span > 0 else 0.0,
        "p50_ms": summary.p50,
        "tail_ms": summary.tail,
        "cold_s": statistics.median(s["cold_s"] for _, s in sessions) if sessions else 0.0,
    }
    lateness_ms = [x for _, s in sessions for x in s["lateness_ms"]]
    ctx.info["generator_lateness_ms_max"] = round(max(lateness_ms, default=0.0), 3)
    ctx.info["generator_lateness_ms_p50"] = round(statistics.median(lateness_ms), 3) if lateness_ms else None
    ctx.detail.update({"e2e": e2e, "latency_ms": latency, "lateness_ms": lateness_ms})

    layers: dict = {}
    if ctx.trace:
        durations = [pr["durationMs"] for _, s in sessions for pr in s["progress"]]
        n_batches = max(1, len(durations))
        tenth = max(1, len(commit_s) // 10)
        tables = [s["table"] for _, s in sessions]
        data_bytes = sum(f.stat().st_size for t in tables for f in (t / "data").rglob("*.parquet"))
        layers.update(phase_medians(durations))
        layers.update(
            {
                "session.start_s": ctx.info["session_start_s"],
                "source.backlog_files_max": max(s["backlog_max"] for _, s in sessions),
                "manifest.commit_ms": 1000 * statistics.median(commit_s),
                "manifest.commit_first_tenth_ms": 1000 * statistics.median(commit_s[:tenth]),
                "manifest.commit_last_tenth_ms": 1000 * statistics.median(commit_s[-tenth:]),
                "manifest.versions": statistics.median(len(s["committed"]) for _, s in sessions),
                "manifest.sidecars": sum(
                    len(list((t / "_manifest" / "meta").glob("*.parquet"))) for t in tables
                ),
                "sink.bytes_per_record": data_bytes / max(1, committed),
                "events.per_batch": sum(s["events"] for _, s in sessions) / n_batches,
                "events.buffered_after_close": sum(s["late_events"] for _, s in sessions),
                "jvm.cpu_ms_per_op": jvm.get("jvm_cpu_ms", 0.0) / n_batches,
                "jvm.gc_ms_per_op": jvm.get("jvm_gc_ms", 0.0) / n_batches,
            }
        )
        layers.update(event_log_layers(ctx, t_phase, t_phase_end, n_batches))
    return finish(ctx, e2e, layers, summary)
