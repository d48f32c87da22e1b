"""Seeded input tables for the benchmark.

The benchmark never reads shared test data: each run synthesises its
own copies of the tables it needs, with the schemas of the engine's
warehouse fixtures (``sources.tables.STATIC_SCHEMAS``) and the same
value distributions, and writes them as single-file parquet into the
run's own directory. Values and row order both follow ``--seed``, so a
seed names one input set exactly.

Scale: ``sf=0.01`` gives 60k lineitem rows, 10k events and 500
documents; ``sf=0.001`` gives 6k / 1k / 500.
"""

from __future__ import annotations

import os
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400  # 1995-01-01T00:00:00Z, seconds
EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z, seconds


def _write(table: pa.Table, path: str) -> None:
    # one row group, like the engine's fixtures: sources.tables then
    # repartitions after the scan
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(round(6_000_000 * sf))
    orders = max(int(1_500_000 * sf), 1)
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = rng.uniform(900.0, 2100.0, n)
    days = rng.integers(1, 2499, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(int(200_000 * sf), 1), n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(int(10_000 * sf), 1), n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty, pa.float64()),
            "l_extendedprice": pa.array(np.round(qty * unit, 2), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": pa.array(
                (EPOCH_1995 * 1_000_000 + days * DAY_US).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
        }
    )


def plant_anomalies(rng: np.random.Generator, t: pa.Table, share: float = 0.01) -> pa.Table:
    """A refresh with defects the baseline suite was not generated on:
    nulls in required columns, out-of-range quantities and ship dates,
    values outside the flag list, and duplicated rows."""
    n = t.num_rows
    k = max(int(n * share), 1)
    cols = {c: t.column(c).to_pylist() for c in t.column_names}
    picks = rng.choice(n, size=4 * k, replace=False)
    for i in picks[:k]:
        cols[rng.choice(["l_quantity", "l_returnflag", "l_shipdate"])][i] = None
    for i in picks[k : 2 * k]:
        cols["l_quantity"][i] = -float(rng.integers(1, 50))
    for i in picks[2 * k : 3 * k]:
        cols["l_returnflag"][i] = "X"
    for i in picks[3 * k :]:
        cols["l_shipdate"][i] += timedelta(days=40 * 365)
    out = pa.table(cols, schema=t.schema)
    dups = out.take(pa.array(rng.choice(n, size=k, replace=False)))
    return pa.concat_tables([out, dups])


def events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(round(1_000_000 * sf))
    users = max(int(15_000 * sf), 2)
    span_us = 30 * DAY_US
    gaps = rng.exponential(1.0, n)
    ts = np.floor(np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(
                (EPOCH_2024 * 1_000_000 + ts).astype("datetime64[us]"), pa.timestamp("us")
            ),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01, pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(rng: np.random.Generator, n: int = 500) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _permuted(rng: np.random.Generator, t: pa.Table) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def write_inputs(out_dir: str, tables: list[str], seed: int, sf: float) -> dict[str, int]:
    """Write every table in ``tables`` to ``out_dir/<name>.parquet``;
    returns row counts. ``lineitem_refresh`` is ``lineitem`` with
    planted anomalies, written as ``out_dir/refresh/lineitem.parquet``
    so the engine's loaders read it under the table's own name."""
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}
    for name in tables:
        # one stream per table, so a table's content does not depend on
        # which other tables the workload asked for
        rng = np.random.default_rng([seed, sum(map(ord, name))])
        if name == "lineitem":
            t = lineitem(rng, sf)
        elif name == "lineitem_refresh":
            base = lineitem(np.random.default_rng([seed, sum(map(ord, "lineitem"))]), sf)
            t = plant_anomalies(rng, base)
        elif name == "events":
            t = events(rng, sf)
        elif name == "documents":
            t = documents(rng)
        else:
            raise ValueError(f"no generator for table {name!r}")
        t = _permuted(rng, t)
        path = os.path.join(out_dir, f"{name}.parquet")
        if name == "lineitem_refresh":
            os.makedirs(os.path.join(out_dir, "refresh"), exist_ok=True)
            path = os.path.join(out_dir, "refresh", "lineitem.parquet")
        _write(t, path)
        rows[name] = t.num_rows
    return rows
