"""Tests of the benchmark harness itself (no Spark needed).

    python3 -m pytest fsbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import common  # noqa: E402
import fixtures  # noqa: E402
import workloads  # noqa: E402
from w_query import TABLES  # noqa: E402
from w_txn import Generator, backlog_max, latencies, lateness  # noqa: E402


# -- the tail rule --------------------------------------------------------------


@pytest.mark.parametrize(
    "n, want",
    [(24, None), (25, 60.0), (33, 60.0), (34, 70.0), (40, 75.0), (50, 80.0),
     (99, 80.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_is_highest_rung_with_ten_beyond(n, want):
    assert common.tail_percentile(n) == want


@pytest.mark.parametrize("n", [25, 40, 64, 100, 250])
def test_tail_has_at_least_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    s = common.summarize(values)
    assert s.valid and s.tail_pct > 50
    assert sum(1 for v in values if v > s.tail) >= common.TAIL_BEYOND


def test_too_few_samples_is_invalid_not_the_median():
    s = common.summarize([5.0] * 20)
    assert not s.valid and s.tail is None


def test_invalid_tail_fails_the_run(tmp_path):
    ctx = workloads.Context(tmp_path, tmp_path, tmp_path, 1, 1.0, False, 0.0)
    line = json.loads(
        workloads.finish(
            ctx,
            {k: 1.0 for k in workloads.END_TO_END_UNITS},
            {},
            common.summarize([1.0] * 10),
        )
    )
    assert line["correct"] is False and line["failed"] == 1 == line["attempted"]


# -- failure accounting ------------------------------------------------------------


def test_failing_operation_is_counted_and_not_timed():
    ops = common.Ops()
    times = []
    for fn in (lambda: 1, lambda: 1 / 0, lambda: 2):
        secs, _ = ops.timed(fn)
        if secs is not None:
            times.append(secs)
    assert (ops.attempted, ops.failed, len(times)) == (3, 1, 2)
    assert "ZeroDivisionError" in ops.errors[0]
    line = json.loads(common.result_line(ops, {}))
    assert line == {"correct": False, "attempted": 3, "failed": 1, "metrics": {}}


def test_failed_check_counts_against_attempted():
    ops = common.Ops()
    assert ops.check(True, "fine") and not ops.check(False, "mismatch")
    assert (ops.attempted, ops.failed) == (2, 1)


# -- open-loop due times ---------------------------------------------------------------


class FakeClock:
    """Time that advances only when slept on or moved by hand."""

    def __init__(self) -> None:
        self.now = 100.0

    def clock(self) -> float:
        return self.now

    def sleep(self, s: float) -> None:
        self.now += s


def _tables(n):
    rng = np.random.default_rng(0)
    return [fixtures.events_table(rng, 5, 5 * i, 10) for i in range(n)]


def test_generator_keeps_its_schedule_and_reports_lateness(tmp_path, monkeypatch):
    fake = FakeClock()
    real_write = pq.write_table
    stalls = {1: 1.25}  # the second file takes 1.25 s to land

    def slow_write(tbl, path, **kw):
        real_write(tbl, path, **kw)
        fake.now += stalls.pop(int(Path(path).stem[1:]), 0.0)

    monkeypatch.setattr(pq, "write_table", slow_write)
    (tmp_path / "inbox").mkdir()
    (tmp_path / "tmp").mkdir()
    g = Generator(_tables(5), tmp_path / "inbox", tmp_path / "tmp", 100.0, 2.0,
                  clock=fake.clock, sleep=fake.sleep)
    g.run()
    assert g.error is None
    # due times never shift, however late a file landed
    assert g.due == [100.0, 100.5, 101.0, 101.5, 102.0]
    late = lateness(g)
    assert late[0] == 0.0 and late[1] == pytest.approx(1.25)
    # the files due during the stall were written at once, late
    assert late[2] == pytest.approx(0.75) and late[3] == pytest.approx(0.25)
    assert late[4] == 0.0
    assert sorted(p.name for p in (tmp_path / "inbox").iterdir()) == g.names


def test_latency_counts_the_wait_a_stall_imposes():
    # files due every 0.5 s; the engine stalls and commits the first
    # three together at 102.0: each is timed from its own due time
    due = [100.0, 100.5, 101.0, 101.5]
    committed = [102.0, 102.0, 102.0, 102.1]
    assert latencies(due, committed) == pytest.approx([2.0, 1.5, 1.0, 0.6])
    assert backlog_max(due, committed) == 4
    assert backlog_max([0.0, 0.1, 0.2], [0.05, 0.3, 0.3]) == 2
    assert backlog_max([0.0, 0.1, 0.2], [0.05, 0.15, 0.25]) == 1


# -- seeded inputs -------------------------------------------------------------------------


def dir_digest(path: Path) -> str:
    """sha256 over the names and bytes of every file under ``path``."""
    h = hashlib.sha256()
    for p in sorted(path.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(path)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def test_same_seed_stages_identical_backlog(tmp_path):
    events = fixtures.events_table(np.random.default_rng(3), 500, 0, 50)
    a = fixtures.stage_rowfn_backlog(events, tmp_path / "a", 7, 3, 100)
    b = fixtures.stage_rowfn_backlog(events, tmp_path / "b", 7, 3, 100)
    c = fixtures.stage_rowfn_backlog(events, tmp_path / "c", 8, 3, 100)
    assert a == b and a != c
    assert dir_digest(tmp_path / "a") == dir_digest(tmp_path / "b")
    assert dir_digest(tmp_path / "a") != dir_digest(tmp_path / "c")
    props = pq.read_table(tmp_path / "a").column("props").to_pylist()
    for i in a["poison_ids"]:
        with pytest.raises(ValueError):
            json.loads(props[i])


def test_same_seed_writes_identical_star_schema(tmp_path):
    fixtures.write_star_schema(tmp_path / "a", 0.001, 42)
    fixtures.write_star_schema(tmp_path / "b", 0.001, 42)
    fixtures.write_star_schema(tmp_path / "c", 0.001, 43)
    assert {p.name for p in (tmp_path / "a").iterdir()} == {f"{t}.parquet" for t in TABLES}
    assert dir_digest(tmp_path / "a") == dir_digest(tmp_path / "b")
    assert dir_digest(tmp_path / "a") != dir_digest(tmp_path / "c")


def test_same_seed_gives_identical_txn_files():
    a = [fixtures.events_table(np.random.default_rng(5), 20, 20 * i, 9) for i in range(3)]
    b = [fixtures.events_table(np.random.default_rng(5), 20, 20 * i, 9) for i in range(3)]
    assert all(x.equals(y) for x, y in zip(a, b))


# -- the benchmark's declaration -------------------------------------------------------


def test_benchmark_json_matches_the_harness():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(workloads.END_TO_END_UNITS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: v[0] for k, v in workloads.PER_LAYER.items()
    }
    assert [w["name"] for w in spec["workloads"]] == ["ingest_rowfn", "ingest_txn", "query_mix"]
    readme = (HERE / "README.md").read_text()
    for name in workloads.PER_LAYER:
        assert f"| `{name}` |" in readme, f"{name} missing from the README's layer map"
