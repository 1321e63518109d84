"""Run context, the per-layer metric map, and the workload dispatch."""

from __future__ import annotations

import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import common
import fixtures

#: Scale factor and generator seed of the star schema the declared
#: queries and the ``ingest_rowfn`` backlog draw from. Fixed, so the
#: engine's at-rest layouts are built once per checkout; the workload
#: seed picks rows, poison records and query order.
SF = 0.1
DATA_SEED = 42
FIXTURE_NAME = "fsbench_sf0.1_g1"
#: Package-relative at-rest layouts the engine may build for the mix's
#: ``q_scan_*`` keys; priming records which of them it found built.
LAYOUTS = ("lakehouse_layout", "evolution_layout", "fileskip_layout", "dpp_layout")

#: Per-layer metrics: name → (unit, layer, end-to-end metric it should
#: move, workload it should move it on). Every traced run reports all
#: of them; a layer its workload does not exercise reads 0.
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "session.start_s": ("s", "session", "setup_s", "all"),
    "phase.latest_offset_ms": ("ms", "streaming.source", "p50_ms, tail_ms", "ingest_txn"),
    "phase.get_batch_ms": ("ms", "streaming.source", "p50_ms, tail_ms", "ingest_txn"),
    "source.backlog_files_max": ("count", "streaming.source", "p50_ms, tail_ms", "ingest_txn"),
    "phase.query_planning_ms": ("ms", "streaming.pipeline", "p50_ms", "ingest_txn"),
    "phase.wal_commit_ms": ("ms", "streaming.pipeline", "p50_ms", "ingest_txn"),
    "phase.commit_offsets_ms": ("ms", "streaming.pipeline", "p50_ms", "ingest_txn"),
    "phase.add_batch_ms": ("ms", "streaming.pipeline", "p50_ms", "both ingest"),
    "phase.other_ms": ("ms", "streaming.pipeline", "p50_ms", "ingest_txn"),
    "transform.fn_ms_per_krec": ("ms", "streaming.pipeline.record_transform", "throughput_per_s", "ingest_rowfn"),
    "transform.wrap_ms_per_krec": ("ms", "streaming.pipeline.record_transform", "throughput_per_s", "ingest_rowfn"),
    "pyworker.cpu_ms_per_krec": ("ms", "streaming.pipeline.record_transform", "throughput_per_s", "ingest_rowfn"),
    "sink.write_ms": ("ms", "streaming.sink", "p50_ms", "ingest_rowfn"),
    "dlq.write_ms": ("ms", "streaming.sink", "p50_ms", "ingest_rowfn"),
    "sink.files_per_batch": ("count", "streaming.sink", "p50_ms", "ingest_rowfn"),
    "events.per_batch": ("count", "streaming.pipeline.PipelineListener", "none", "both ingest"),
    "events.buffered_after_close": ("count", "streaming.pipeline.PipelineListener", "none", "both ingest"),
    "manifest.commit_ms": ("ms", "sources.manifest_table (write)", "p50_ms, tail_ms", "ingest_txn"),
    "manifest.commit_first_tenth_ms": ("ms", "sources.manifest_table (write)", "tail_ms", "ingest_txn"),
    "manifest.commit_last_tenth_ms": ("ms", "sources.manifest_table (write)", "tail_ms", "ingest_txn"),
    "manifest.versions": ("count", "sources.manifest_table (write)", "p50_ms, tail_ms", "ingest_txn"),
    "manifest.sidecars": ("count", "sources.manifest_table (write)", "p50_ms, tail_ms", "ingest_txn"),
    "sink.bytes_per_record": ("bytes", "sources.manifest_table (write)", "p50_ms", "ingest_txn"),
    "manifest.read_ms": ("ms", "sources.manifest_table (read)", "p50_ms", "query_mix"),
    "query.construct_ms": ("ms", "registry", "p50_ms, cold_s", "query_mix"),
    "query.exec_ms": ("ms", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "query.jobs": ("count", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "query.stages": ("count", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "query.tasks": ("count", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "query.stage_ms": ("ms", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "query.outside_stage_ms": ("ms", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "query.shuffle_write_bytes": ("bytes", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "task.run_ms": ("ms", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "task.deserialize_ms": ("ms", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "task.gc_ms": ("ms", "operators/llm/functions", "p50_ms, tail_ms", "query_mix"),
    "prepare.words_s": ("s", "llm.dedup shared cache", "cold_s", "query_mix"),
    "prepare.shingles_s": ("s", "llm.dedup shared cache", "cold_s", "query_mix"),
    "prepare.simhash_sigs_s": ("s", "llm.dedup shared cache", "cold_s", "query_mix"),
    "prepare.ivf_cells_s": ("s", "llm.dedup shared cache", "cold_s", "query_mix"),
    "prepare.bigrams_s": ("s", "llm.dedup shared cache", "cold_s", "query_mix"),
    "query.cold_minus_warm_ms": ("ms", "llm.dedup shared cache", "cold_s", "query_mix"),
    "jvm.cpu_ms_per_op": ("ms", "JVM", "throughput_per_s, tail_ms", "all"),
    "jvm.gc_ms_per_op": ("ms", "JVM", "throughput_per_s, tail_ms", "all"),
    "trace.p50_ms": ("ms", "benchmark (traced p50; minus untraced p50 = tracing overhead)", "p50_ms", "all"),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "p50_ms": "ms",
    "tail_ms": "ms",
    "cold_s": "s",
}


@dataclass
class Context:
    root: Path
    work: Path
    run_dir: Path
    seed: int
    seconds: float
    trace: bool
    t_process: float
    ops: common.Ops = field(default_factory=common.Ops)
    info: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    spark: object = None

    def data_dir(self) -> Path:
        """The star schema, generated on first use in this checkout."""
        dest = self.work / "data" / FIXTURE_NAME
        t0 = time.perf_counter()
        if fixtures.ensure_star_schema(dest, SF, DATA_SEED):
            self.info["fixture_generated_s"] = round(time.perf_counter() - t0, 3)
        return dest

    def layouts_present(self) -> dict[str, bool]:
        wh = self.root / "spark-warehouse"
        return {name: (wh / name / FIXTURE_NAME).is_dir() for name in LAYOUTS}

    def open(self, app: str):
        """Start the run's session; returns it and records its shape."""
        t0 = time.perf_counter()
        self.spark, shape = common.open_session(self.run_dir, app, self.trace)
        self.info.update(shape)
        self.info["session_start_s"] = time.perf_counter() - t0
        return self.spark

    def restart(self, app: str):
        """A fresh SparkSession in the same (warm) JVM."""
        self.spark.stop()
        self.spark, _ = common.open_session(self.run_dir, app, self.trace)
        return self.spark

    def close(self) -> None:
        if self.spark is not None:
            common.stop_session(self.spark)
            self.spark = None

    def since_start(self) -> float:
        return time.perf_counter() - self.t_process

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since process start."""
        self.info.setdefault("phase_end_s", {})[phase] = round(self.since_start(), 2)


def finish(ctx: Context, e2e: dict, layers: dict, summary: common.Summary) -> str:
    """Build the result line; an invalid tail marks the run incorrect."""
    ctx.info["samples"] = summary.n
    ctx.info["tail_percentile"] = summary.tail_pct
    ctx.info["layouts_present"] = ctx.layouts_present()
    ctx.ops.check(summary.valid, f"only {summary.n} samples: too few for a tail percentile")
    if ctx.trace:
        layers = {**layers, "trace.p50_ms": summary.p50}
        ctx.detail["layer_map"] = {
            name: {"unit": u, "layer": layer, "moves": moves, "on": on}
            for name, (u, layer, moves, on) in PER_LAYER.items()
        }
        metrics = {
            name: common.metric(layers.get(name, 0.0), unit)
            for name, (unit, *_rest) in PER_LAYER.items()
        }
    else:
        metrics = {
            name: common.metric(e2e[name], unit) for name, unit in END_TO_END_UNITS.items()
        }
    ctx.detail["errors"] = ctx.ops.errors
    return common.result_line(ctx.ops, metrics)


class TimedSink:
    """Wraps an ``FrSink`` and records each ``write_batch``'s seconds."""

    def __init__(self, sink, into: list[float]) -> None:
        self._sink, self._into = sink, into
        self.fmt = sink.fmt

    def write_batch(self, df, batch_id=None) -> None:
        t0 = time.perf_counter()
        self._sink.write_batch(df, batch_id)
        self._into.append(time.perf_counter() - t0)


_PHASES = {
    "latestOffset": "phase.latest_offset_ms",
    "getBatch": "phase.get_batch_ms",
    "queryPlanning": "phase.query_planning_ms",
    "walCommit": "phase.wal_commit_ms",
    "commitOffsets": "phase.commit_offsets_ms",
    "addBatch": "phase.add_batch_ms",
}


def phase_medians(durations: list[dict]) -> dict:
    """Median of each ``durationMs`` phase over micro-batches;
    ``phase.other_ms`` is the trigger time no named phase covers."""
    out = {m: statistics.median(d.get(k, 0) for d in durations) for k, m in _PHASES.items()}
    out["phase.other_ms"] = statistics.median(
        d["triggerExecution"] - sum(d.get(k, 0) for k in _PHASES) for d in durations
    )
    return out


def event_log_layers(ctx: Context, t0_ms: float, t1_ms: float, n_ops: int) -> dict:
    """Per-operation job, stage and task figures of the jobs submitted
    in ``[t0_ms, t1_ms]``. Stops the session so the log is complete."""
    ctx.close()
    jobs = [
        j for j in common.parse_event_log(ctx.run_dir / "eventlog")
        if t0_ms <= j["submit"] <= t1_ms
    ]
    t = common.job_totals(jobs)
    n = max(1, n_ops)
    return {
        "query.jobs": t["jobs"] / n,
        "query.stages": t["stages"] / n,
        "query.tasks": t["tasks"] / n,
        "query.stage_ms": t["stage_ms"] / n,
        "query.shuffle_write_bytes": t["shuffle_write_bytes"] / n,
        "task.run_ms": t["run_ms"] / n,
        "task.deserialize_ms": t["deserialize_ms"] / n,
        "task.gc_ms": t["gc_ms"] / n,
    }


def run(workload: str, ctx: Context) -> str:
    if workload == "ingest_rowfn":
        import w_rowfn as mod
    elif workload == "ingest_txn":
        import w_txn as mod
    else:
        import w_query as mod
    return mod.run(ctx)
