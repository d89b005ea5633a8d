"""Deterministic input fixtures for the benchmark.

The tables follow the shape of the synthetic fixture in FIXTURES.md §B:
a TPC-H-like star schema plus ``embeddings``, with the same column
names, types and value domains, so the registered queries run on them
unchanged. Content is a pure
function of ``(scale, DATA_SEED)``: the benchmark's ``--seed`` never
changes the data, only the order of operations and the write
workload's random choices.

``replicate`` applies the ``tools/make_big_sf.py`` rule (per-replica key
shifts, so replicas are key-disjoint and every foreign key holds within
a replica) with a fixed file count, so the layout does not depend on
the host's core count.
"""

from __future__ import annotations

import math
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 42

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
ALL_TABLES = (*TPCH_TABLES, "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EMB_DIM = 64

#: day offsets from 1970-01-01 of the fixture's date window
_DAY0 = 9131  # 1995-01-01
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_DAYS = 2498  # 1995-01-02 through 2001-11-04

#: make_big_sf.py's per-replica key strides
_SHIFTS = {
    "lineitem": {"l_orderkey": 100_000_000, "l_partkey": 10_000_000, "l_suppkey": 10_000_000},
    "orders": {"o_orderkey": 100_000_000, "o_custkey": 10_000_000},
    "customer": {"c_custkey": 10_000_000},
    "part": {"p_partkey": 10_000_000},
    "supplier": {"s_suppkey": 10_000_000},
}


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, first_day: int, n_days: int, n: int) -> pa.Array:
    days = first_day + rng.integers(0, n_days + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _embeddings(rng, n: int) -> pa.Table:
    label = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, _EMB_DIM)) * 0.6
    v = rng.normal(0.0, 1.0, (n, _EMB_DIM)) + centers[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def make_tables(scale: float, tables: tuple[str, ...]) -> dict[str, pa.Table]:
    """The fixture tables at ``scale`` (sf units: 6M lineitem rows per
    1.0; embeddings keep the fixture's 500-row floor)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    out: dict[str, pa.Table] = {}
    # every table draws from its own child stream so a subset of tables
    # has exactly the content it has in the full set
    streams = dict(zip(ALL_TABLES, rng.spawn(len(ALL_TABLES))))
    for name in tables:
        r = streams[name]
        if name == "region":
            out[name] = pa.table(
                {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
            )
        elif name == "nation":
            out[name] = pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
                }
            )
        elif name == "customer":
            out[name] = pa.table(
                {
                    "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                    "c_name": _names("Customer", n_cust),
                    "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                    "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
                    "c_mktsegment": pa.array(
                        [_SEGMENTS[j] for j in r.integers(0, 5, n_cust)]
                    ),
                }
            )
        elif name == "supplier":
            out[name] = pa.table(
                {
                    "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                    "s_name": _names("Supplier", n_supp),
                    "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                    "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
                }
            )
        elif name == "part":
            adj, noun = r.integers(0, 8, n_part), r.integers(0, 8, n_part)
            out[name] = pa.table(
                {
                    "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                    "p_name": pa.array(
                        [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(adj, noun)]
                    ),
                    "p_brand": pa.array([f"Brand#{j}" for j in r.integers(1, 26, n_part)]),
                    "p_type": pa.array([_P_TYPES[j] for j in r.integers(0, 6, n_part)]),
                    "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
                    "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
                }
            )
        elif name == "orders":
            out[name] = pa.table(
                {
                    "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                    "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
                    "o_orderstatus": pa.array([("F", "O", "P")[j] for j in r.integers(0, 3, n_ord)]),
                    "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
                    "o_orderdate": _dates(r, _DAY0, _ORDER_DAYS, n_ord),
                    "o_orderpriority": pa.array(
                        [_PRIORITIES[j] for j in r.integers(0, 5, n_ord)]
                    ),
                }
            )
        elif name == "lineitem":
            out[name] = pa.table(
                {
                    "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
                    "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
                    "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
                    "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
                    "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
                    "l_extendedprice": _money(r, 900.0, 105000.0, n_line),
                    "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
                    "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
                    "l_returnflag": pa.array([("A", "N", "R")[j] for j in r.integers(0, 3, n_line)]),
                    "l_linestatus": pa.array([("F", "O")[j] for j in r.integers(0, 2, n_line)]),
                    "l_shipdate": _dates(r, _DAY0 + 1, _SHIP_DAYS, n_line),
                }
            )
        elif name == "embeddings":
            out[name] = _embeddings(r, max(500, int(20_000 * scale)))
    return out


def replicate(tables: dict[str, pa.Table], factor: int) -> dict[str, pa.Table]:
    """``factor`` key-disjoint copies of each keyed table (replica 0 is
    the identity); nation and region are shared, as in make_big_sf."""
    out = dict(tables)
    for name, shifts in _SHIFTS.items():
        if name not in tables:
            continue
        t = tables[name]
        reps = []
        for i in range(factor):
            r = t
            for col, stride in shifts.items():
                j = r.schema.get_field_index(col)
                shifted = pc.add(r[col], pa.scalar(i * stride, r.schema.field(col).type))
                r = r.set_column(j, col, shifted)
            reps.append(r)
        out[name] = pa.concat_tables(reps)
    return out


def write_dir(tables: dict[str, pa.Table], out: Path, n_files: dict[str, int] | None = None) -> None:
    """Write each table as ``<name>.parquet``: a single file, or a
    directory of ``n_files[name]`` row slices."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, t in tables.items():
        n = (n_files or {}).get(name)
        if not n:
            pq.write_table(t, tmp / f"{name}.parquet")
            continue
        d = tmp / f"{name}.parquet"
        d.mkdir()
        step = math.ceil(t.num_rows / n)
        for i in range(n):
            pq.write_table(t.slice(i * step, step), d / f"part-{i:05d}.parquet")
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def parquet_files(sf_dir: Path) -> list[Path]:
    """Every parquet path of a fixture dir: table files, multi-file
    table directories and their parts."""
    out = []
    for p in sorted(sf_dir.glob("*.parquet")):
        out.append(p)
        if p.is_dir():
            out.extend(sorted(p.glob("*.parquet")))
    return out
