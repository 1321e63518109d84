"""``query_mix``: one closed-loop client executing declared queries.

A fixed, stratified list of declared keys runs in a seeded order into
the ``noop`` sink: first one pass from a fresh session in a warm JVM
(``cold_s``), then warm passes (``p50_ms``, ``tail_ms``,
``throughput_per_s``). Each key is also collected once, outside
timing, and must match its DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import json
import math
import statistics
import time

import numpy as np

import common
from workloads import FIXTURE_NAME, Context, finish

#: Stratified across the batch surface: operators (scan, aggregate,
#: join, window), llm (shared projections and memoised results),
#: functions and UDFs, and at-rest manifest tables (``q_scan_*``,
#: including deletion vectors). Left out for their cold cost on 4
#: cores, which alone would double a run: the graph family's shared
#: pair-fan leg (9-12 s per fresh session) and ``q_join_bucketed``'s
#: per-session ``fs_bkt_*`` write (5-7 s).
KEYS = (
    # operators
    "q_tpch_q6_shape", "q_agg_group", "q_join_inner", "q_win_ntile",
    # llm
    "q_llm_dedup_simhash", "q_llm_sim_cosine",
    # functions / UDFs
    "q_fn_hash", "q_udf_pandas",
    # at-rest manifest tables
    "q_scan_deleted_dv", "q_scan_cdf",
)
AT_REST = tuple(k for k in KEYS if k.startswith("q_scan_"))
#: Run in the first session to warm the JVM before the cold pass.
WARMUP_KEYS = ("q_tpch_q6_shape",)
#: Warm passes per run: one per ``WARM_PASS_NOMINAL_S`` of ``--seconds``
#: and at least ``MIN_WARM_PASSES``. Five passes of the 10 keys give 50
#: samples. Sorted by time on a 4-core host, the median then falls in
#: the middle of three keys of near-equal time (the Q6 shape, the
#: broadcast join, ntile) and the p80 tail inside two others (the
#: simhash projection, the deletion-vector scan), not at the edge of a
#: gap between keys, so neither jumps from key to key between runs.
WARM_PASS_NOMINAL_S = 2.0
MIN_WARM_PASSES = 5
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _norm(v) -> str:
    """Canonical text of one cell, as the engine's test comparator has it."""
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, (np.floating, float)):
        return repr(float(v))
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(pdf) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    rows sorted after canonicalising every cell."""
    cols = sorted(pdf.columns)
    rows = sorted(zip(*([_norm(v) for v in pdf[c].tolist()] for c in cols)))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def oracle_digests(sf_dir: str) -> dict[str, str]:
    """DuckDB's digest of every key's oracle over the fixture."""
    import duckdb

    from frafka_spark.registry import get_oracle_sql

    oracles = get_oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for k in KEYS:
            try:
                out[k] = digest(con.execute(oracles[k]).df())
            except duckdb.Error as exc:  # the key's check then fails
                out[k] = f"oracle failed: {exc}"
        return out
    finally:
        con.close()


def ensure_primed(ctx: Context, spark, sf_dir: str) -> dict[str, str]:
    """Untimed priming, once per checkout: run the at-rest keys so the
    engine builds its package-relative layouts, and compute the oracle
    digests (the fixture is fixed, so they are too). Returns the
    digests. Redone when a layout has gone missing."""
    from frafka_spark.registry import get_oracle_sql, get_queries

    stamp = ctx.work / "data" / "primed.json"
    sql = get_oracle_sql()
    want = {
        "fixture": FIXTURE_NAME,
        "keys": list(KEYS),
        "oracle_sql": hashlib.sha256(repr([sql.get(k) for k in KEYS]).encode()).hexdigest(),
    }
    try:
        got = json.loads(stamp.read_text())
        present = ctx.layouts_present()
        if {k: got.get(k) for k in want} == want and all(present[n] for n in got["layouts"]):
            return got["oracle"]
    except (OSError, json.JSONDecodeError, KeyError):
        pass
    t0 = time.perf_counter()
    queries = get_queries()
    for k in AT_REST:
        ctx.ops.timed(lambda k=k: execute(spark, queries[k], sf_dir))
    want["oracle"] = oracle_digests(sf_dir)
    want["layouts"] = [n for n, ok in ctx.layouts_present().items() if ok]
    stamp.write_text(json.dumps(want))
    ctx.info["primed_s"] = round(time.perf_counter() - t0, 2)
    return want["oracle"]


def execute(spark, fn, sf_dir: str) -> tuple[float, float]:
    """Construct and run one query into ``noop``; (construct s, total s)."""
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t0


def run(ctx: Context) -> str:
    from frafka_spark.registry import get_queries

    sf_dir = str(ctx.data_dir())
    order = [KEYS[i] for i in np.random.default_rng(ctx.seed).permutation(len(KEYS))]
    spark = ctx.open("fsbench-query_mix")
    setup_s = ctx.since_start()
    oracle = ensure_primed(ctx, spark, sf_dir)
    queries = get_queries()
    for k in WARMUP_KEYS:
        ctx.ops.timed(lambda k=k: execute(spark, queries[k], sf_dir))
    ctx.mark("warmup")

    spark = ctx.restart("fsbench-query_mix")
    queries = get_queries()
    meter = common.JvmMeter(spark) if ctx.trace else None
    windows: list[tuple[str, str, float, float, float, float]] = []

    def timed_pass(tag: str) -> list[tuple[str, float, float]]:
        out = []
        for k in order:
            t0 = time.time() * 1000
            secs, res = ctx.ops.timed(lambda k=k: execute(spark, queries[k], sf_dir))
            if secs is not None:
                construct, total = res
                out.append((k, construct, total))
                windows.append((tag, k, t0, time.time() * 1000, construct, total))
        return out

    cold = timed_pass("cold")
    cold_s = sum(t for _, _, t in cold)
    ctx.mark("cold")

    # correctness, untimed: every key once against its oracle
    for k in KEYS:
        try:
            t0 = time.perf_counter()
            ok = digest(queries[k](spark, sf_dir).toPandas()) == oracle[k]
            ctx.detail.setdefault("check_s", {})[k] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # counted as a failed check
            ok = False
            ctx.detail.setdefault("check_errors", {})[k] = repr(exc)[:500]
        ctx.ops.check(ok, f"{k}: result differs from its DuckDB oracle")
    ctx.mark("checks")

    n_passes = max(MIN_WARM_PASSES, round(ctx.seconds / WARM_PASS_NOMINAL_S))
    t_warm = time.perf_counter()
    warm = []
    for i in range(n_passes):
        warm.extend(timed_pass(f"warm{i}"))
    warm_wall = time.perf_counter() - t_warm
    ctx.mark("warm")
    jvm = meter.delta() if meter else {}

    warm_ms = [1000 * t for _, _, t in warm]
    summary = common.summarize(warm_ms)
    e2e = {
        "setup_s": setup_s,
        "throughput_per_s": len(warm) / warm_wall,
        "p50_ms": summary.p50,
        "tail_ms": summary.tail,
        "cold_s": cold_s,
    }
    per_key = {
        k: round(1000 * statistics.median(t for kk, _, t in warm if kk == k), 2)
        for k in KEYS if any(kk == k for kk, _, _ in warm)
    }
    ctx.detail.update({"e2e": e2e, "order": order, "warm_ms_per_key": per_key,
                       "cold_ms_per_key": {k: round(1000 * t, 2) for k, _, t in cold}})

    layers: dict = {}
    if ctx.trace:
        from frafka_spark.llm.dedup import warm_shared_projections

        n = max(1, len(warm))
        warm_pass_ms = 1000 * sum(t for _, _, t in warm) / n_passes
        layers.update(
            {
                "session.start_s": ctx.info["session_start_s"],
                "query.construct_ms": 1000 * statistics.median(c for _, c, _ in warm),
                "query.exec_ms": 1000 * statistics.median(t - c for _, c, t in warm),
                "manifest.read_ms": 1000 * statistics.median(
                    t - c for k, c, t in warm if k.startswith("q_scan_")
                ),
                "query.cold_minus_warm_ms": 1000 * cold_s - warm_pass_ms,
                "jvm.cpu_ms_per_op": jvm.get("jvm_cpu_ms", 0.0) / n,
                "jvm.gc_ms_per_op": jvm.get("jvm_gc_ms", 0.0) / n,
            }
        )
        # shared-cache builds, timed per tag from one more fresh session
        spark = ctx.restart("fsbench-query_mix-prepare")
        for tag, secs in warm_shared_projections(spark, sf_dir).items():
            layers[f"prepare.{tag}_s"] = secs
        layers.update(_event_log_layers(ctx, [w for w in windows if w[0] != "cold"]))
    return finish(ctx, e2e, layers, summary)


def _event_log_layers(ctx: Context, windows: list) -> dict:
    """Per-execution medians of job, stage and task figures, with each
    job attributed to the execution whose wall window holds its
    submission. Stops the session so the log is complete."""
    ctx.close()
    jobs = sorted(common.parse_event_log(ctx.run_dir / "eventlog"), key=lambda j: j["submit"])
    per_exec = []
    for _tag, _k, t0, t1, _c, total in windows:
        mine = [j for j in jobs if t0 <= j["submit"] <= t1]
        t = common.job_totals(mine)
        t["outside_stage_ms"] = max(0.0, 1000 * total - t["stage_ms"])
        per_exec.append(t)
    if not per_exec:
        return {}

    def med(key: str) -> float:
        return float(statistics.median(t[key] for t in per_exec))

    return {
        "query.jobs": med("jobs"),
        "query.stages": med("stages"),
        "query.tasks": med("tasks"),
        "query.stage_ms": med("stage_ms"),
        "query.outside_stage_ms": med("outside_stage_ms"),
        "query.shuffle_write_bytes": med("shuffle_write_bytes"),
        "task.run_ms": med("run_ms"),
        "task.deserialize_ms": med("deserialize_ms"),
        "task.gc_ms": med("gc_ms"),
    }
