"""Shared pieces of the benchmark: statistics, operation accounting,
the session, host context and the trace readers.

Nothing here imports the engine at module load; ``open_session``
imports ``frafka_spark`` when it is called, so the statistics and
accounting can be tested without Spark.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

#: Candidate tail percentiles, highest first. A run reports the
#: highest one that leaves at least ``TAIL_BEYOND`` samples above it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0)
TAIL_BEYOND = 10


# -- statistics -------------------------------------------------------------


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``TAIL_BEYOND`` of ``n``
    samples beyond it, or None when even the lowest rung has too few
    (a run must then be marked invalid, never report the median)."""
    for p in TAIL_LADDER:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= TAIL_BEYOND:
            return p
    return None


@dataclass
class Summary:
    n: int
    p50: float
    tail: float | None
    tail_pct: float | None

    @property
    def valid(self) -> bool:
        return self.tail is not None


def summarize(values: list[float]) -> Summary:
    if not values:
        return Summary(0, float("nan"), None, None)
    p = tail_percentile(len(values))
    return Summary(
        len(values),
        statistics.median(values),
        percentile(values, p) if p is not None else None,
        p,
    )


# -- operation accounting -----------------------------------------------------


@dataclass
class Ops:
    """Counts attempted and failed operations; only successes are timed.

    A failing operation (an exception or a failed output check) adds
    to ``failed`` and its error to ``errors``; it never contributes a
    time, so a breaking change cannot read as a fast one.
    """

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def timed(self, fn: Callable[[], object]) -> tuple[float | None, object]:
        """Run ``fn``; return ``(seconds, result)`` or ``(None, None)``."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            self.fail(traceback.format_exc(limit=3))
            return None, None
        return time.perf_counter() - t0, out

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check as an operation."""
        self.attempted += 1
        if not ok:
            self.fail(what)
        return ok


# -- result line ----------------------------------------------------------------


def metric(value: float | None, unit: str) -> dict:
    """One metric entry. A value that could not be measured (no
    successful operation, or too few samples for a tail) reads 0; the
    run is then already marked incorrect."""
    value = float("nan") if value is None else float(value)
    return {"value": value if math.isfinite(value) else 0.0, "unit": unit}


def result_line(ops: Ops, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": ops.failed == 0,
            "attempted": max(1, ops.attempted),
            "failed": ops.failed,
            "metrics": metrics,
        }
    )


# -- host context ---------------------------------------------------------------


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    vals = [int(x) for x in parts]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def calibrate(rounds: int = 3) -> float:
    """Milliseconds of a fixed single-thread CPU loop (best of ``rounds``).

    Timed before and after each run, so two runs on a drifting host
    can be told apart from a change in the engine.
    """
    buf = b"x" * 65536
    best = float("inf")
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(300):
            h.update(buf)
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


class HostContext:
    """Load, steal share and calibration around one run. Reported,
    never used to gate or correct a metric."""

    def __init__(self) -> None:
        self.calib_before_ms = calibrate()
        self.load1_before = os.getloadavg()[0]
        self._stat0 = _cpu_times()

    def finish(self) -> dict:
        total1, steal1 = _cpu_times()
        dt = max(1, total1 - self._stat0[0])
        return {
            "load1_before": round(self.load1_before, 2),
            "load1_after": round(os.getloadavg()[0], 2),
            "steal_share": round((steal1 - self._stat0[1]) / dt, 4),
            "calib_before_ms": round(self.calib_before_ms, 3),
            "calib_after_ms": round(calibrate(), 3),
            "nproc": os.cpu_count(),
        }


# -- session --------------------------------------------------------------------


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_shape() -> tuple[int, str]:
    """Cores and driver heap for this box: at most 4 cores and never
    more than ``nproc``; a heap of a quarter of RAM, capped at 4 GiB.
    Both stay far below the engine's own defaults, which assume a
    32-core, 48 GiB host."""
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    heap_gb = max(1, min(4, mem_total_bytes() // (4 << 30)))
    return cores, f"{heap_gb}g"


def open_session(run_dir: Path, app: str, trace: bool):
    """Build the run's session through the engine's factory.

    The warehouse, scratch space and (when tracing) the uncompressed
    event log all live in ``run_dir``. Returns ``(spark, shape)``.
    """
    from frafka_spark.session import get_spark

    cores, heap = session_shape()
    conf = {
        "spark.driver.memory": heap,
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.local.dir": str(run_dir / "local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (run_dir / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": str(run_dir / "eventlog"),
            }
        )
    spark = get_spark(app_name=app, cpus=cores, extra_conf=conf)
    return spark, {"cores": cores, "heap": heap}


def stop_session(spark) -> None:
    """Stop the context and shut the gateway JVM down, waiting for it,
    so the next ``open_session`` starts a fresh JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- process and JVM counters -------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it start at the last ')'
    return raw[raw.rfind(")") + 2 :].split()


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def cpu_ms(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children when asked), in ms."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if children:
        ticks += int(st[13]) + int(st[14])
    return ticks * 1000.0 / _TICK


def python_worker_cpu_ms(root: int) -> float:
    """CPU of every Python process below the JVM ``root`` (daemon and
    workers, with reaped workers counted through their parent)."""
    kids: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        st = _stat(int(d))
        if st is None:
            continue
        kids.setdefault(int(st[1]), []).append(int(d))
        try:
            with open(f"/proc/{d}/comm") as fh:
                comm[int(d)] = fh.read().strip()
        except OSError:
            pass
    total, stack = 0.0, list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        if comm.get(pid, "").startswith("python"):
            total += cpu_ms(pid, children=True)
        stack.extend(kids.get(pid, []))
    return total


def jvm_gc_ms(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans()))


class JvmMeter:
    """Deltas of JVM CPU, JVM GC and Python-worker CPU over a phase."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.pid = jvm_pid(spark)
        self.start = self._read()

    def _read(self) -> tuple[float, float, float]:
        if self.pid is None:
            return 0.0, 0.0, 0.0
        return cpu_ms(self.pid), jvm_gc_ms(self.spark), python_worker_cpu_ms(self.pid)

    def delta(self) -> dict:
        end = self._read()
        return {
            "jvm_cpu_ms": end[0] - self.start[0],
            "jvm_gc_ms": end[1] - self.start[1],
            "pyworker_cpu_ms": end[2] - self.start[2],
        }


# -- Spark event log ------------------------------------------------------------------


def parse_event_log(log_dir: Path) -> list[dict]:
    """Jobs from an uncompressed event log, each with its description,
    submission time (epoch ms) and the totals of its stages and tasks:
    ``stages, tasks, stage_ms, intervals, shuffle_write_bytes, run_ms,
    deserialize_ms, gc_ms``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes a directory per application (``eventlog_v2_*``)
    # holding ``events_<n>_*`` files; older layouts write one file.
    logs = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))]
    for f in sorted(logs):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description") or "",
                        "submit": ev.get("Submission Time", 0),
                        "stages": 0, "tasks": 0, "stage_ms": 0.0, "intervals": [],
                        "shuffle_write_bytes": 0, "run_ms": 0.0,
                        "deserialize_ms": 0.0, "gc_ms": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = jobs.get(stage_job.get(info["Stage ID"], -1))
                    if job is None or "Submission Time" not in info:
                        continue
                    job["stages"] += 1
                    job["stage_ms"] += info["Completion Time"] - info["Submission Time"]
                    job["intervals"].append((info["Submission Time"], info["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += m.get("Executor Run Time", 0)
                    job["deserialize_ms"] += m.get("Executor Deserialize Time", 0)
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return list(jobs.values())


def job_totals(jobs: list[dict]) -> dict:
    """Summed job, stage and task figures of ``jobs``; ``stage_ms`` is
    the wall time covered by at least one of their stages."""
    out = {"jobs": len(jobs)}
    for k in ("stages", "tasks", "shuffle_write_bytes", "run_ms", "deserialize_ms", "gc_ms"):
        out[k] = sum(j[k] for j in jobs)
    out["stage_ms"] = union_ms([iv for j in jobs for iv in j["intervals"]])
    return out


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# -- misc -------------------------------------------------------------------------


def frame_digest(pdf, key: str) -> str:
    """Order-insensitive sha256 of a pandas frame: integer columns as
    int64, floats as float64, the rest as text, rows hashed by pandas
    and the row hashes sorted. ``key`` must be unique per row."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    norm = {}
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_integer_dtype(s):
            norm[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            norm[c] = s.astype("float64")
        else:
            norm[c] = s.astype(str)
    rows = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False).to_numpy()
    h = hashlib.sha256(",".join(cols).encode())
    h.update(np.sort(rows).tobytes())
    h.update(str(pdf[key].is_unique).encode())
    return h.hexdigest()


def _isnull(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))
