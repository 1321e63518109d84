"""``ingest_rowfn``: closed-loop drains of a parquet backlog through a
per-record Python function with a dead-letter split.

Each drain is ``Pipeline(FrSource.files(max_files_per_trigger=1),
record_transform(score_event), FrSink.parquet, fail_sink=FrSink.parquet)``
under ``Trigger.AvailableNow``, with a fresh checkpoint and fresh
outputs, one drain after another in one session. Files hold
``ROWS_PER_FILE`` records: enough that the Python worker's share (the
function plus its wrapper) is the largest of a micro-batch.
"""

from __future__ import annotations

import json
import shutil
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

import common
import fixtures
from w_query import ensure_primed
from workloads import Context, TimedSink, event_log_layers, finish, phase_medians

ROWS_PER_FILE = 8_000
FILES_PER_DRAIN = 13
COLD_FILES = 1
#: Measured drains per run: one per ``DRAIN_NOMINAL_S`` of ``--seconds``
#: and at least ``MIN_DRAINS`` (26 micro-batches, a p60 tail).
DRAIN_NOMINAL_S = 5.0
MIN_DRAINS = 2
MAX_WARMUPS = 2
OUT_SCHEMA = "event_id bigint, user_id bigint, event_type string, k int, score double, bucket string"


def score_event(rec: dict) -> dict:
    """The user function: parse ``props`` (raises on a truncated one)
    and score the event."""
    k = int(json.loads(rec["props"])["k"])
    return {
        "event_id": rec["event_id"],
        "user_id": rec["user_id"],
        "event_type": rec["event_type"],
        "k": k,
        "score": round(rec["value"] * (1.0 + k / 100.0), 4),
        "bucket": f"{rec['event_type']}:{k // 10}",
    }


def timed_fn(acc):
    """``score_event`` adding its own seconds to the accumulator ``acc``."""

    def fn(rec: dict) -> dict:
        t0 = time.perf_counter()
        try:
            return score_event(rec)
        finally:
            acc.add(time.perf_counter() - t0)

    return fn


def reference(staged: Path) -> tuple[str, set[int]]:
    """Digest of the expected good output and the expected DLQ ids,
    computed in pandas from the staged files."""
    import pandas as pd

    rows, bad = [], set()
    for rec in pq.read_table(staged).to_pylist():
        try:
            rows.append(score_event(rec))
        except ValueError:
            bad.add(rec["event_id"])
    return common.frame_digest(pd.DataFrame(rows), "event_id"), bad


def check_drain(ctx: Context, out: Path, want_digest: str, want_bad: set[int],
                staged_props: dict[int, str]) -> bool:
    good = pq.read_table(out / "good").to_pandas()
    dlq = pq.read_table(out / "dlq").to_pylist()
    ok = common.frame_digest(good, "event_id") == want_digest
    bad_ids = set()
    for row in dlq:
        src = json.loads(row["_fr_source"])
        bad_ids.add(src["event_id"])
        ok &= row["_fr_error"].startswith("JSONDecodeError")
        ok &= src["props"] == staged_props[src["event_id"]]
    ok &= bad_ids == want_bad and len(dlq) == len(want_bad)
    ok &= len(good) + len(dlq) == len(staged_props)
    return ctx.ops.check(ok, f"drain output mismatch in {out.name}")


def drain(ctx: Context, inbox: Path, out: Path, fn, timings: dict | None) -> dict:
    from frafka_spark.streaming.pipeline import Pipeline, record_transform
    from frafka_spark.streaming.sink import FrSink
    from frafka_spark.streaming.source import FrSource

    shutil.rmtree(out, ignore_errors=True)
    sink = FrSink.parquet(str(out / "good"))
    dlq = FrSink.parquet(str(out / "dlq"))
    if timings is not None:
        sink = TimedSink(sink, timings.setdefault("sink", []))
        dlq = TimedSink(dlq, timings.setdefault("dlq", []))
    p = Pipeline(
        FrSource.files(ctx.spark, str(inbox), fixtures.EVENTS_DDL, max_files_per_trigger=1),
        record_transform(fn, OUT_SCHEMA),
        sink,
        fail_sink=dlq,
        checkpoint=str(out / "ckpt"),
        name=f"rowfn-{out.name}",
    )
    t0 = time.perf_counter()
    q = p.start(available_now=True)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    err = q.exception()
    events = len(p.events())
    p.close()
    late = len(p.events())
    if err is not None:
        raise RuntimeError(f"drain failed: {err}")
    batches = [pr for pr in q.recentProgress if pr["numInputRows"] > 0]
    return {
        "wall_s": wall,
        "batches": [pr["durationMs"] for pr in batches],
        "records": sum(pr["numInputRows"] for pr in batches),
        "events": events,
        "late_events": late,
    }


def run(ctx: Context) -> str:
    data = ctx.data_dir()
    events = pq.read_table(data / "events.parquet")
    inbox = ctx.run_dir / "inbox"
    fixtures.stage_rowfn_backlog(events, inbox, ctx.seed, FILES_PER_DRAIN, ROWS_PER_FILE)
    cold_inbox = ctx.run_dir / "inbox_cold"
    cold_inbox.mkdir()
    for f in sorted(inbox.iterdir())[:COLD_FILES]:
        shutil.copy(f, cold_inbox / f.name)
    spark = ctx.open("fsbench-ingest_rowfn")
    setup_s = ctx.since_start()

    acc = spark.sparkContext.accumulator(0.0) if ctx.trace else None
    fn = timed_fn(acc) if ctx.trace else score_event
    outs = ctx.run_dir / "out"

    # cold: the session's first drain; then warm up until a drain's
    # median batch is within 10 % of the previous one
    cold = drain(ctx, cold_inbox, outs / "cold", fn, None)
    ctx.mark("cold")
    prev = statistics.median(d["triggerExecution"] for d in cold["batches"])
    for i in range(MAX_WARMUPS):
        w = drain(ctx, cold_inbox, outs / f"warm{i}", fn, None)
        med = statistics.median(d["triggerExecution"] for d in w["batches"])
        settled = abs(med - prev) <= 0.1 * prev
        prev = med
        if settled:
            break

    ctx.mark("warmup")
    n_drains = max(MIN_DRAINS, round(ctx.seconds / DRAIN_NOMINAL_S))
    timings: dict | None = {} if ctx.trace else None
    meter = common.JvmMeter(spark) if ctx.trace else None
    acc0 = acc.value if acc is not None else 0.0
    t_phase = time.time() * 1000
    drains = []
    for i in range(n_drains):
        secs, d = ctx.ops.timed(lambda i=i: drain(ctx, inbox, outs / f"d{i}", fn, timings))
        if secs is not None:
            drains.append((outs / f"d{i}", d))
        if ctx.since_start() > setup_s + 6 * ctx.seconds:
            break  # a stalled host: stop with what was measured
    t_phase_end = time.time() * 1000
    ctx.mark("measure")
    jvm = meter.delta() if meter else {}
    fn_ms = (acc.value - acc0) * 1000 if acc is not None else 0.0

    # output checks (outside timing), one per drain
    want_digest, want_bad = reference(inbox)
    staged_props = {r["event_id"]: r["props"] for r in
                    pq.read_table(inbox, columns=["event_id", "props"]).to_pylist()}
    for out, _ in drains:
        check_drain(ctx, out, want_digest, want_bad, staged_props)
    ctx.mark("checks")
    ensure_primed(ctx, spark, str(data))

    batch_ms = [float(b["triggerExecution"]) for _, d in drains for b in d["batches"]]
    summary = common.summarize(batch_ms)
    records = sum(d["records"] for _, d in drains)
    wall = sum(d["wall_s"] for _, d in drains)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": records / wall if wall else 0.0,
        "p50_ms": summary.p50,
        "tail_ms": summary.tail,
        "cold_s": cold["wall_s"],
    }
    ctx.detail.update({"drains": [d for _, d in drains], "cold": cold, "e2e": e2e})

    layers: dict = {}
    if ctx.trace:
        n_batches = max(1, len(batch_ms))
        krec = max(1e-9, records / 1000.0)
        phases = phase_medians([b for _, d in drains for b in d["batches"]])
        py_ms = jvm.get("pyworker_cpu_ms", 0.0)
        good_files = sum(len(list((out / "good").glob("*.parquet"))) for out, _ in drains)
        layers.update(phases)
        layers.update(
            {
                "session.start_s": ctx.info["session_start_s"],
                "transform.fn_ms_per_krec": fn_ms / krec,
                "pyworker.cpu_ms_per_krec": py_ms / krec,
                "transform.wrap_ms_per_krec": max(0.0, py_ms - fn_ms) / krec,
                "sink.write_ms": 1000 * statistics.median(timings["sink"]),
                "dlq.write_ms": 1000 * statistics.median(timings["dlq"]),
                "sink.files_per_batch": good_files / n_batches,
                "events.per_batch": sum(d["events"] for _, d in drains) / n_batches,
                "events.buffered_after_close": sum(d["late_events"] for _, d in drains),
                "jvm.cpu_ms_per_op": jvm.get("jvm_cpu_ms", 0.0) / n_batches,
                "jvm.gc_ms_per_op": jvm.get("jvm_gc_ms", 0.0) / n_batches,
            }
        )
        layers.update(event_log_layers(ctx, t_phase, t_phase_end, n_batches))
    return finish(ctx, e2e, layers, summary)
