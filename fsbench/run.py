"""Benchmark entry point.

    python3 fsbench/run.py --workload ingest_rowfn --seed 1 --seconds 10 --trace 0

Runs one workload (``ingest_rowfn``, ``ingest_txn`` or ``query_mix``)
from the root of a checkout, checks every output, and prints as its
last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is a
JSON ``context`` object (session cores and heap, host load, steal
share, calibration, at-rest layout presence, tail percentiles).

All files a run writes live under ``.fsbench_work/`` in the checkout,
except the engine's own at-rest layouts, which it keeps under
``spark-warehouse/``. See ``fsbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("ingest_rowfn", "ingest_txn", "query_mix")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "frafka_spark" / "__init__.py").is_file():
        print(f"fsbench: no frafka_spark package under {ROOT}", file=sys.stderr)
        return 2

    # Workers import the engine and the workload's record function by
    # module path, so both roots go on the path the JVM hands them.
    for p in (str(HERE), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(HERE), str(ROOT)]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    import common
    import workloads

    work = ROOT / ".fsbench_work"
    run_dir = work / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # Temporary files of Python, the JVM and its workers stay in the run
    # directory too (the JVM's perf-data file would otherwise go to /tmp).
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), f"-Djava.io.tmpdir={run_dir / 'tmp'}",
         "-XX:-UsePerfData"]
    ).strip()
    host = common.HostContext()
    ctx = workloads.Context(
        root=ROOT,
        work=work,
        run_dir=run_dir,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        t_process=T_PROCESS,
    )
    try:
        result = workloads.run(args.workload, ctx)
    finally:
        ctx.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    context = {"workload": args.workload, "seed": args.seed, **ctx.info,
               "host": host.finish()}
    last = work / "last"
    last.mkdir(parents=True, exist_ok=True)
    (last / f"{args.workload}{'-trace' if args.trace else ''}.json").write_text(
        json.dumps({"context": context, "detail": ctx.detail}, indent=1, default=str)
    )
    print(json.dumps({"context": context}, default=str))
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
