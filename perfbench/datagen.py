"""Seeded input generator for the benchmark.

Writes the tables a workload reads (the TPC-H-shaped star schema
``region`` ... ``lineitem`` and the ``events`` stream table, one
``<name>.parquet`` file each) into a fresh directory.  Schemas, sizes and
value distributions match the engine's test tables at sf 0.01 and 0.1,
as measured with ``perfbench/shape.py`` (the numbers are in
perfbench/README.md, "Inputs"):

- sizes scale with ``sf`` exactly as there: lineitem 6M x sf rows,
  orders 1.5M x sf, customer 150k x sf, part 200k x sf, supplier 10k x sf,
  events 1M x sf over 15k x sf users;
- keys and categories are uniform draws (lineitem per order and events
  per user come out Poisson, as measured there), amounts and dates are
  uniform over the measured ranges, event values are exponential with
  mean 50, rounded to cents;
- every timestamp column is ``timestamp[us]``, the parquet type those
  tables store.

Everything is drawn from ``numpy.random.Generator(PCG64(seed))``, so a
seed fixes every byte the engine sees while the table sizes stay the same
for all seeds.  Fact rows are written in a seeded permutation, so no
query can lean on physical order.  ``generate`` returns the row count of
every table it wrote.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    span = (np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(int)
    return np.datetime64(lo, "D") + rng.integers(0, span + 1, n)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict, rng=None) -> int:
    table = pa.table(cols)
    if rng is not None:
        table = table.take(pa.array(rng.permutation(table.num_rows)))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def generate(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> dict[str, int]:
    """Write the star schema (if any of ``STAR_TABLES`` is asked for) and
    ``events`` (if asked for) under ``out_dir``; return ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    rows: dict[str, int] = {}
    if set(tables) & set(STAR_TABLES):
        rows.update(_star(out_dir, rng, sf))
    if "events" in tables:
        rows["events"] = _events(out_dir, rng, sf)
    return rows


def _star(out_dir: str, rng, sf: float) -> dict[str, int]:
    rows: dict[str, int] = {}
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)

    rows["region"] = _write(
        out_dir,
        "region",
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": _REGIONS,
        },
    )
    nk = np.arange(25)
    rows["nation"] = _write(
        out_dir,
        "nation",
        {
            "n_nationkey": pa.array(nk, pa.int32()),
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": pa.array(nk % 5, pa.int32()),
        },
    )
    rows["customer"] = _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        },
    )
    rows["supplier"] = _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    pk = np.arange(n_part, dtype=np.int64)
    rows["part"] = _write(
        out_dir,
        "part",
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(np.array(_PART_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(_PART_NOUN)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add(
                "Brand#", rng.integers(1, 26, n_part).astype(str)
            ),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        },
    )
    rows["orders"] = _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                _days(rng, "1995-01-01", "2001-08-01", n_ord).astype("M8[us]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        },
        rng,
    )
    rows["lineitem"] = _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _days(rng, "1995-01-02", "2001-11-04", n_li).astype("M8[us]"),
                pa.timestamp("us"),
            ),
        },
        rng,
    )
    return rows


def _events(out_dir: str, rng, sf: float) -> int:
    """Distinct microsecond timestamps over 30 days from 2024-01-01,
    ``event_id`` in time order, users drawn uniformly."""
    n = max(int(1_000_000 * sf), 10)
    users = max(int(15_000 * sf), 1)
    ts = np.sort(rng.choice(30 * _DAY_US, n, replace=False))
    return _write(
        out_dir,
        "events",
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(_EPOCH_2024 + ts.astype("m8[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, users, n),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        rng,
    )
