"""Regenerate perfbench/expected.json: the digest of each query op's
output, computed by its DuckDB twin (``__spark_entry__.oracle_sql()``)
over the benchmark's generated inputs.

    python3 perfbench/make_expected.py

Run from the root of a checkout. Live twins are too slow to run inside
every benchmark run, so their digests are stored; rerun this whenever
the generator or a workload's op list changes. The DuckDB views glob
multi-file tables (``<table>.parquet/*.parquet``), which
``tools/check_oracle.py``'s single-file views cannot read.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def oracle_digests(sf_dir: Path, ops: list[str]) -> dict[str, tuple[str, int]]:
    """Digest and row count of each op's DuckDB twin over ``sf_dir``."""
    import duckdb

    import check
    from bearly_spark.registry import ORACLE

    con = duckdb.connect()
    for p in sorted(sf_dir.glob("*.parquet")):
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{src}')")
    out = {}
    for op in ops:
        sql = ORACLE[op]() if callable(ORACLE[op]) else ORACLE[op]
        rel = con.sql(sql)
        rows = rel.fetchall()
        out[op] = (check.digest_rows(rel.columns, rows), len(rows))
        if not rows:
            print(f"WARN {op}: empty result", file=sys.stderr)
    con.close()
    return out


def main() -> int:
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads as W

    out_path = HERE / "expected.json"
    expected = {}
    data = ROOT / ".perfbench" / "expected-data"
    for name, make in W.WORKLOADS.items():
        wl = make()
        if not isinstance(wl, W.QueryWorkload):
            continue
        wl.make_inputs(data)
        digests = oracle_digests(wl.sf_dir, wl.ops)
        for op, (d, n) in digests.items():
            print(f"{name} {op}: {n} rows {d[:12]}", file=sys.stderr)
        expected[name] = {op: d for op, (d, _) in digests.items()}
    out_path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
