"""Check every registered TPC-H query, not only the timed ones, on the
``tpch_10x`` inputs: the digest of its Spark output must equal the
digest of its DuckDB twin.

    python3 perfbench/verify_tpch.py [query ...]

Run from the root of a checkout. It prints one line per query and exits
with code 1 if any query disagrees or raises. A benchmark run checks
only the timed queries; run this after changing the generator, the
replication rule or a TPC-H query.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    sys.path[:0] = [str(ROOT), str(HERE)]
    import check
    import make_expected
    import run
    import workloads as W

    work = ROOT / ".perfbench"
    run._prepare_env(work, traced=False)
    from bearly_spark import interchange
    from bearly_spark.registry import QUERIES
    from bearly_spark.session import get_spark

    ops = sys.argv[1:] or [q for q in QUERIES if re.match(r"q\d+_", q)]
    wl = W.WORKLOADS["tpch_10x"]()
    wl.make_inputs(work / "expected-data")
    want = make_expected.oracle_digests(wl.sf_dir, ops)
    bad = [name for name, ok, _ in wl.input_checks if not ok]
    spark = None
    try:
        spark = get_spark("perfbench-verify")
        spark.sparkContext.setLogLevel("ERROR")
        for op in ops:
            try:
                tab = interchange.to_arrow(QUERIES[op](spark, str(wl.sf_dir)))
                got, n = check.digest_arrow(tab), tab.num_rows
                detail = "agree" if got == want[op][0] else f"DISAGREE digest {got[:12]} != {want[op][0][:12]}"
            except Exception as e:  # noqa: BLE001 - report it, check the rest
                n, detail = -1, f"RAISED {type(e).__name__}: {e}"
            spark.catalog.clearCache()
            if detail != "agree":
                bad.append(op)
            print(f"{op:32s} {n:6d} rows (oracle {want[op][1]}) {detail}", flush=True)
    finally:
        run._stop_spark(spark)
    print(f"{len(ops) - len(bad)}/{len(ops)} agree" + (f"; failing: {' '.join(bad)}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
