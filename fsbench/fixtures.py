"""Seeded inputs for the benchmark.

Everything a run reads is generated here, inside the run's own work
directory, from a seed:

- ``write_star_schema`` writes the ten fixture tables the declared
  queries read (``frafka_spark.io.TABLES``), shaped like the engine's
  test fixtures (same columns, types and value domains) at a given
  scale factor;
- ``stage_rowfn_backlog`` writes the events-shaped parquet backlog the
  ``ingest_rowfn`` workload drains, with a seeded poison subset;
- ``events_table`` builds events-shaped rows, such as the small
  stamped files ``ingest_txn`` streams.

The same seed gives byte-identical files (``tests/test_fsbench.py``
checks this), so a run's inputs are a function of its seed alone.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_ADJ = ["red", "blue", "hot", "old", "large", "small", "green", "cold"]
P_NOUN = ["bolt", "ring", "plate", "nut", "gear", "pipe", "screw", "valve"]
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
WORDS = (
    "a the spark stream batch query table row column key value data scan "
    "filter join group agg sort merge hash window part line order customer "
    "vector fast slow big small"
).split()
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
#: DDL of the events schema, for ``FrSource.files``.
EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)
_JAN_2024_US = 1_704_067_200_000_000
_DAY_US = 86_400_000_000


def _write(table: pa.Table, path: Path) -> None:
    # One row group and no wall-clock metadata, so equal inputs give
    # equal bytes.
    pq.write_table(
        table, path, compression="snappy", row_group_size=max(1, table.num_rows)
    )


def _dates_us(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _DAY_US


def events_table(rng: np.random.Generator, n: int, first_id: int, users: int) -> pa.Table:
    """``n`` events rows with ids ``first_id ..`` and sorted timestamps."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _JAN_2024_US
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, users, n),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.uniform(0, 200, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        schema=EVENTS_SCHEMA,
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    # a few exact and near duplicates, as the dedup queries expect
    for i in range(0, n, 97):
        if i + 1 < n:
            texts[i + 1] = texts[i]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    vecs = centers[labels] + 0.6 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )


def write_star_schema(dest: Path, sf: float, seed: int) -> None:
    """Write the ten fixture tables at scale factor ``sf`` into ``dest``."""
    rng = np.random.default_rng(seed)
    dest.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    _write(
        pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        dest / "region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        dest / "nation.parquet",
    )
    _write(
        pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
            }
        ),
        dest / "customer.parquet",
    )
    _write(
        pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        dest / "supplier.parquet",
    )
    price = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(
        pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": P_TYPES[rng.integers(0, 6, n_part)],
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": price,
            }
        ),
        dest / "part.parquet",
    )
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
                "o_orderdate": pa.array(
                    _dates_us(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")
                ),
                "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
            }
        ),
        dest / "orders.parquet",
    )
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(
        pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line),
                "l_partkey": partkey,
                "l_suppkey": rng.integers(0, n_supp, n_line),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": qty,
                "l_extendedprice": np.round(qty * price[partkey] * rng.uniform(0.95, 1.05, n_line), 2),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                "l_shipdate": pa.array(
                    _dates_us(rng, n_line, "1995-01-02", "2001-11-04"), pa.timestamp("us")
                ),
            }
        ),
        dest / "lineitem.parquet",
    )
    _write(events_table(rng, n_ev, 0, max(1, n_cust // 10)), dest / "events.parquet")
    _write(_documents(rng, int(50_000 * sf)), dest / "documents.parquet")
    _write(_embeddings(rng, int(20_000 * sf)), dest / "embeddings.parquet")


def ensure_star_schema(dest: Path, sf: float, seed: int) -> bool:
    """Write the star schema unless ``dest`` already holds this build.

    Returns True when it had to write. The stamp keeps the files (and
    their mtimes) stable across runs, so the engine's at-rest layouts,
    which key on fixture mtimes, are built once per checkout.
    """
    stamp = dest / "_fsbench.json"
    want = {"sf": sf, "seed": seed, "gen": 1}
    try:
        if json.loads(stamp.read_text()) == want:
            return False
    except (OSError, json.JSONDecodeError):
        pass
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    write_star_schema(tmp, sf, seed)
    (tmp / "_fsbench.json").write_text(json.dumps(want))
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return True


# -- ingest_rowfn ---------------------------------------------------------


def poison_props(props: str) -> str:
    """Truncate a props JSON so ``json.loads`` raises on it."""
    return props[: max(1, len(props) // 2)]


def stage_rowfn_backlog(
    events: pa.Table, dest: Path, seed: int, n_files: int, rows_per_file: int,
    poison_share: float = 0.02,
) -> dict:
    """Write ``n_files`` parquet files of rows drawn from ``events``.

    Rows are sampled with replacement and renumbered ``0 ..`` so every
    staged record has a unique id. A seeded ``poison_share`` of them get
    truncated ``props`` JSON. Returns the staged ids of the poison set.
    """
    rng = np.random.default_rng(seed)
    dest.mkdir(parents=True, exist_ok=True)
    total = n_files * rows_per_file
    take = rng.integers(0, events.num_rows, total)
    staged = events.take(pa.array(take))
    props = staged.column("props").to_pylist()
    poison = np.sort(rng.choice(total, int(total * poison_share), replace=False))
    for i in poison:
        props[i] = poison_props(props[i])
    staged = staged.set_column(
        0, "event_id", pa.array(np.arange(total, dtype=np.int64))
    ).set_column(5, "props", pa.array(props, pa.string()))
    for f in range(n_files):
        part = staged.slice(f * rows_per_file, rows_per_file)
        _write(part, dest / f"part-{f:04d}.parquet")
    return {"poison_ids": poison.tolist(), "total": total}
