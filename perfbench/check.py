"""Output checks: canonical result digests and the commit-log reference model.

A digest is order-insensitive and representation-stable across Spark
and DuckDB: columns are sorted by name, cells are normalized the way
``tools/check_oracle.py`` normalizes its allowlisted queries (Decimal to
float, dates and timestamps to ISO strings, NaN to a string, -0.0 to
0.0), and rows are sorted before hashing.
"""

from __future__ import annotations

import hashlib
import json
import math
from datetime import date, datetime
from decimal import Decimal

import pyarrow as pa


def _cell(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_cell(x) for x in v]
    return v


def digest_rows(cols: list[str], rows: list[tuple]) -> str:
    """sha256 over the sorted column names and the sorted, normalized
    rows, each row's cells in sorted-column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        json.dumps([_cell(r[i]) for i in order], default=str) for r in rows
    )
    h = hashlib.sha256(json.dumps([cols[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def digest_arrow(table: pa.Table) -> str:
    cols = table.column_names
    data = [table.column(i).to_pylist() for i in range(len(cols))]
    return digest_rows(cols, list(zip(*data)) if data else [])


class OrdersModel:
    """Pure-Python replay of the commit-log table keyed by
    ``o_orderkey``: upserts replace or insert, range deletes remove."""

    def __init__(self, base: pa.Table):
        self.cols = base.column_names
        self.schema = base.schema
        self.base = {r["o_orderkey"]: r for r in base.to_pylist()}
        self.rows = dict(self.base)

    def reset(self) -> None:
        self.rows = dict(self.base)

    def upsert(self, delta: pa.Table) -> None:
        for r in delta.to_pylist():
            self.rows[r["o_orderkey"]] = r

    def delete(self, lo: int, hi: int) -> None:
        for k in [k for k in self.rows if lo <= k <= hi]:
            del self.rows[k]

    def range_rows(self, lo: int, hi: int) -> list[tuple]:
        return sorted(
            tuple(r[c] for c in self.cols)
            for k, r in self.rows.items()
            if lo <= k <= hi
        )

    def status_totals(self) -> dict[str, tuple[int, Decimal]]:
        out: dict[str, tuple[int, Decimal]] = {}
        for r in self.rows.values():
            n, s = out.get(r["o_orderstatus"], (0, Decimal(0)))
            out[r["o_orderstatus"]] = (n + 1, s + Decimal(str(r["o_totalprice"])))
        return out

    def snapshot(self) -> list[tuple]:
        return sorted(tuple(r[c] for c in self.cols) for r in self.rows.values())

    def nbytes(self) -> int:
        """Arrow bytes of the live rows."""
        return pa.Table.from_pylist(list(self.rows.values()), schema=self.schema).nbytes


def arrow_rows(table: pa.Table, cols: list[str]) -> list[tuple]:
    """Sorted row tuples; zoned timestamps (the session is UTC) become
    naive so they compare with the model's."""
    data = [
        [v.replace(tzinfo=None) if isinstance(v, datetime) else v
         for v in table.column(c).to_pylist()]
        for c in cols
    ]
    return sorted(zip(*data))
