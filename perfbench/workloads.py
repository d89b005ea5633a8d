"""The benchmark's workloads and the spans recorded around their calls.

Every timed call into the program goes through :meth:`Ctx.span`, which
records ``(pass, op, phase, start, end, ok)`` in memory. In a traced run
it also sets the Spark job group to ``workload|pass|op|phase`` so the
event log attributes each job to the call that launched it.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

import check
import gen

#: one query per operator pattern: scan and wide aggregate (q1), join
#: and top-N (q3), six-way join with a LIKE filter (q9), IN-subquery on
#: a large group-by (q18), EXISTS / NOT EXISTS semi- and anti-joins (q21)
TPCH_OPS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_type_profit",
    "q18_large_volume_orders",
    "q21_waiting_suppliers",
]


class OpFailed(Exception):
    """An op raised; the span records it and the pass goes on."""


class Ctx:
    """Per-run state shared by the workloads: the session, the spans
    and the failure log."""

    def __init__(self, workload: str, traced: bool):
        self.workload = workload
        self.traced = traced
        self.spark = None
        self.spans: list[dict] = []
        self.failures: list[str] = []
        self.attempted = 0

    @contextmanager
    def span(self, pass_: str, op: str, phase: str, **extra):
        if self.traced:
            self.spark.sparkContext.setJobGroup(
                f"{self.workload}|{pass_}|{op}|{phase}", f"{op} {phase}", False
            )
        rec = {"pass": pass_, "op": op, "phase": phase, **extra}
        rec["t0"] = time.perf_counter()
        try:
            yield rec
            rec["ok"] = True
        except OpFailed:
            # an inner span has logged this failure already
            rec["ok"] = False
            raise
        except Exception as e:  # noqa: BLE001 - one failing op must not end the run
            rec["ok"] = False
            self.failures.append(f"{pass_} {op} {phase}: {type(e).__name__}: {e}")
            raise OpFailed from e
        finally:
            rec["t1"] = time.perf_counter()
            self.spans.append(rec)

    def op(self, fn) -> None:
        """Run one op (a callable making its own spans) and count it as
        attempted; a raising span has already logged the failure."""
        self.attempted += 1
        try:
            fn()
        except OpFailed:
            pass


def _refresh_mtimes(paths: list[Path]) -> None:
    now = time.time()
    for p in paths:
        os.utime(p, (now, now))


# -------------------------------------------------------------------
# Query workloads: registry build step, then the noop-sink exec step
# -------------------------------------------------------------------


class QueryWorkload:
    writes: set[str] = set()
    reads: set[str] = set()

    def __init__(self, name: str, ops: list[str], scale: float, replicas: int,
                 n_files: dict[str, int]):
        self.name = name
        self.ops = ops
        self.scale = scale
        self.replicas = replicas
        self.n_files = n_files
        self.sf_dir: Path | None = None
        self.input_checks: list[tuple[str, bool, str]] = []

    def make_inputs(self, data_root: Path) -> None:
        base = gen.make_tables(self.scale, gen.TPCH_TABLES)
        tables = gen.replicate(base, self.replicas)
        distinct = pc.count_distinct(tables["orders"]["o_orderkey"]).as_py()
        want = self.replicas * base["orders"].num_rows
        self.input_checks.append(
            ("replicas_key_disjoint", distinct == want,
             f"distinct o_orderkey {distinct}, want {want}")
        )
        self.sf_dir = data_root / self.name
        gen.write_dir(tables, self.sf_dir, self.n_files)

    def refresh(self) -> None:
        # every registry cache keys on its fixture's mtime, so each one
        # misses exactly once per setup
        _refresh_mtimes(gen.parquet_files(self.sf_dir))

    def setup(self, ctx: Ctx, label: str) -> None:
        self.run_pass(ctx, label, self.ops)

    def run_pass(self, ctx: Ctx, label: str, order: list[str]) -> None:
        from bearly_spark.registry import QUERIES

        spark, sf = ctx.spark, str(self.sf_dir)

        for name in order:
            def one(name=name):
                with ctx.span(label, name, "build"):
                    df = QUERIES[name](spark, sf)
                if ctx.traced:
                    with ctx.span(label, name, "plan") as rec:
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()
                        phases = qe.tracker().phases()
                        rec["catalyst_s"] = sum(
                            phases.apply(k).durationMs() / 1000.0
                            for k in ("parsing", "analysis", "optimization", "planning")
                            if phases.contains(k)
                        )
                with ctx.span(label, name, "exec"):
                    df.write.format("noop").mode("overwrite").save()
                # bench.py's hygiene: drop pins a query left cached
                spark.catalog.clearCache()

            ctx.op(one)

    def reset_counters(self) -> None:
        pass

    def finish(self, ctx: Ctx) -> dict[str, float]:
        return {}

    def check(self, ctx: Ctx, expected: dict[str, str]) -> list[tuple[str, bool, str]]:
        from bearly_spark import interchange
        from bearly_spark.registry import QUERIES

        out = list(self.input_checks)
        for name in self.ops:
            try:
                got = check.digest_arrow(
                    interchange.to_arrow(QUERIES[name](ctx.spark, str(self.sf_dir)))
                )
                ctx.spark.catalog.clearCache()
                ok = got == expected.get(name)
                out.append((name, ok, "" if ok else f"digest {got[:12]} != expected {str(expected.get(name))[:12]}"))
            except Exception as e:  # noqa: BLE001 - count it, keep checking
                out.append((name, False, f"{type(e).__name__}: {e}"))
        return out


# -------------------------------------------------------------------
# lakehouse_rw: commit-log writes beside reads, plus an IVF index
# -------------------------------------------------------------------

_KEY = "o_orderkey"
_UPSERT_ROWS = 2_000
_UPSERT_SPAN = 3_000
_DELETE_SPAN = 500
_READ_SPAN = 2_000
_IVF_BATCH = 200
_IVF_CELLS = 16
_TABLE_FILES = 8


def _listing(root: Path) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.stat(p).st_size
            except FileNotFoundError:
                pass  # removed between walk and stat
    return out


class Lakehouse:
    """Writes beside reads on a commit-log table of orders and an IVF
    index of embeddings. Each pass is one compaction cycle of two
    rounds: a seeded 2,000-row copy-on-write upsert, a 500-key range
    delete and a stats-skipping range read; then a deletion-vector
    upsert, a range read through its deletion vectors, a snapshot
    aggregate and a 200-vector IVF upsert; then table compaction, IVF compaction and vacuum. Rows
    enter through ``interchange.from_arrow`` and reads leave through
    ``interchange.to_arrow``."""

    name = "lakehouse_rw"
    ops = ["upsert_cow", "upsert_dv", "delete", "range_read", "range_read_dv",
           "snapshot_agg", "ivf_upsert", "compact", "compact_ivf", "vacuum"]
    writes = {"upsert_cow", "upsert_dv", "delete", "ivf_upsert"}
    reads = {"range_read", "range_read_dv", "snapshot_agg"}

    def __init__(self):
        self.sf_dir: Path | None = None
        self.root: Path | None = None
        self.log: list[dict] = []  # every op with its inputs and outputs, for the model
        self.reset_counters()

    @property
    def table(self) -> str:
        return str(self.root / "orders_txlog")

    @property
    def index(self) -> str:
        return str(self.root / "embeddings_ivf")

    def make_inputs(self, data_root: Path) -> None:
        tables = gen.make_tables(0.1, ("orders", "embeddings"))
        self.orders = tables["orders"]
        self.sf_dir = data_root / self.name
        gen.write_dir(tables, self.sf_dir)
        self.root = data_root.parent / "lake"
        self.n_keys = self.orders.num_rows
        self.n_vecs = tables["embeddings"].num_rows
        self.vec_bytes = tables["embeddings"].nbytes

    def refresh(self) -> None:
        _refresh_mtimes(gen.parquet_files(self.sf_dir))

    def setup(self, ctx: Ctx, label: str) -> None:
        from bearly_spark import interchange
        from bearly_spark.sources import txlog
        from bearly_spark.streaming.ivf_index import build_ivf_index

        spark = ctx.spark
        shutil.rmtree(self.root, ignore_errors=True)
        self.root.mkdir(parents=True)
        self.log.append({"op": "reset"})
        self.batch_id = 0
        self.next_vec = 10_000_000

        def build():
            with ctx.span(label, "build_table", "run"):
                txlog.write_table(
                    interchange.from_arrow(spark, self.orders), self.table,
                    stats_cols=[_KEY],
                )
                txlog.compact(spark, self.table, _TABLE_FILES, stats_cols=[_KEY], order_by=[_KEY])
            with ctx.span(label, "build_index", "run"):
                build_ivf_index(
                    spark.read.parquet(str(self.sf_dir / "embeddings.parquet")),
                    self.index, n_cells=_IVF_CELLS,
                )

        ctx.op(build)
        self.run_pass(ctx, label, self.ops)

    def reset_counters(self) -> None:
        self.written = {"bytes": 0, "data_files": 0, "log_bytes": 0}
        self.ingested = 0
        self.passes = 0

    # ---------------------------------------------------------- ops

    def _write(self, ctx, label, op, fn, ingested: int = 0, **extra):
        before = _listing(self.root)
        with ctx.span(label, op, "run", **extra) as rec:
            rec["stats"] = fn()
        after = _listing(self.root)
        new = {p: s for p, s in after.items() if p not in before}
        log_dir = os.sep + "_txlog" + os.sep
        self.written["bytes"] += sum(new.values())
        self.written["log_bytes"] += sum(s for p, s in new.items() if log_dir in p)
        self.written["data_files"] += sum(
            1 for p in new if p.startswith(self.table) and p.endswith(".parquet") and log_dir not in p
        )
        self.ingested += ingested
        rec["bytes_written"] = sum(new.values())

    def run_pass(self, ctx: Ctx, label: str, order: list[str]) -> None:
        """One compaction cycle; ``order`` is ignored, the seed drives
        every key range and vector instead."""
        self.passes += 1
        self._upsert(ctx, label, "upsert_cow")
        self._delete(ctx, label)
        self._range_read(ctx, label, "range_read")
        self._upsert(ctx, label, "upsert_dv")
        self._range_read(ctx, label, "range_read_dv")
        self._snapshot(ctx, label)
        self._ivf_upsert(ctx, label)
        self._maintain(ctx, label)

    def _upsert(self, ctx: Ctx, label: str, op: str) -> None:
        from bearly_spark import interchange
        from bearly_spark.sources import txlog

        # 2,000 distinct keys inside a 3,000-key zone: updates, plus
        # inserts of keys an earlier delete removed
        lo = int(self.rng.integers(0, self.n_keys - _UPSERT_SPAN))
        keys = np.sort(self.rng.choice(np.arange(lo, lo + _UPSERT_SPAN), _UPSERT_ROWS, replace=False))
        delta = self._orders_delta(keys)
        zone = {_KEY: (lo, lo + _UPSERT_SPAN - 1)}
        merge = txlog.merge_into_table if op == "upsert_cow" else txlog.merge_into_table_dv

        def fn():
            with ctx.span(label, op, "from_arrow"):
                df = interchange.from_arrow(ctx.spark, delta)
            return merge(ctx.spark, self.table, df, [_KEY], prune=zone, stats_cols=[_KEY])[1]

        def run():
            self._write(ctx, label, op, fn, ingested=delta.nbytes)
            self.log.append({"op": "upsert", "delta": delta})

        ctx.op(run)

    def _delete(self, ctx: Ctx, label: str) -> None:
        from bearly_spark.sources import txlog

        lo = int(self.rng.integers(0, self.n_keys - _DELETE_SPAN))
        hi = lo + _DELETE_SPAN - 1

        def run():
            self._write(ctx, label, "delete", lambda: txlog.delete_where(
                ctx.spark, self.table, {_KEY: (lo, hi)}, stats_cols=[_KEY])[1])
            self.log.append({"op": "delete", "lo": lo, "hi": hi})

        ctx.op(run)

    def _range_read(self, ctx: Ctx, label: str, op: str) -> None:
        from bearly_spark import interchange
        from bearly_spark.sources import txlog

        lo = int(self.rng.integers(0, self.n_keys - _READ_SPAN))
        where = {_KEY: (lo, lo + _READ_SPAN - 1)}

        def run():
            if ctx.traced:
                with ctx.span(label, op, "plan_files") as rec:
                    files, total = txlog.plan_files(self.table, where=where)
                    rec["skipped"], rec["live"] = total - len(files), total
            with ctx.span(label, op, "run"):
                df = txlog.read_table(ctx.spark, self.table, where=where)
                with ctx.span(label, op, "to_arrow") as rec:
                    tab = interchange.to_arrow(df)
                    rec["bytes"] = tab.nbytes
            self.log.append({"op": "range_read", "lo": lo, "hi": lo + _READ_SPAN - 1, "result": tab})

        ctx.op(run)

    def _snapshot(self, ctx: Ctx, label: str) -> None:
        from bearly_spark import interchange
        from bearly_spark.sources import txlog
        import pyspark.sql.functions as F

        def run():
            with ctx.span(label, "snapshot_agg", "run"):
                df = (
                    txlog.read_table(ctx.spark, self.table)
                    .groupBy("o_orderstatus")
                    .agg(F.count("*").alias("n"),
                         F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"))
                )
                with ctx.span(label, "snapshot_agg", "to_arrow") as rec:
                    tab = interchange.to_arrow(df)
                    rec["bytes"] = tab.nbytes
            self.log.append({"op": "snapshot_agg", "result": tab})

        ctx.op(run)

    def _ivf_upsert(self, ctx: Ctx, label: str) -> None:
        from bearly_spark import interchange
        from bearly_spark.streaming.ivf_index import upsert_ivf_batch

        vecs = self.rng.normal(0.0, 1.0, (_IVF_BATCH, gen._EMB_DIM))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        batch = pa.table({
            "vec_id": pa.array(np.arange(self.next_vec, self.next_vec + _IVF_BATCH), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(np.zeros(_IVF_BATCH, np.int32)),
        })
        self.next_vec += _IVF_BATCH
        batch_id = self.batch_id
        self.batch_id += 1

        def fn():
            with ctx.span(label, "ivf_upsert", "from_arrow"):
                df = interchange.from_arrow(ctx.spark, batch)
            upsert_ivf_batch(df, batch_id, self.index)

        def run():
            self._write(ctx, label, "ivf_upsert", fn, ingested=batch.nbytes)
            self.log.append({"op": "ivf_upsert", "n": _IVF_BATCH, "bytes": batch.nbytes})

        ctx.op(run)

    def _maintain(self, ctx: Ctx, label: str) -> None:
        from bearly_spark.sources import txlog
        from bearly_spark.streaming.ivf_index import compact_ivf_index

        spark = ctx.spark
        steps = {
            "compact": lambda: txlog.compact(
                spark, self.table, _TABLE_FILES, stats_cols=[_KEY], order_by=[_KEY]),
            "compact_ivf": lambda: compact_ivf_index(spark, self.index),
            "vacuum": lambda: len(txlog.vacuum(
                self.table, txlog.latest_version(self.table), min_age_seconds=0)),
        }
        for op, fn in steps.items():
            ctx.op(lambda op=op, fn=fn: self._write(ctx, label, op, fn))

    def _orders_delta(self, keys: np.ndarray) -> pa.Table:
        rng, n = self.rng, len(keys)
        days = gen._DAY0 + rng.integers(0, gen._ORDER_DAYS + 1, n)
        return pa.table(
            {
                "o_orderkey": pa.array(keys, pa.int64()),
                "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
                "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n)]),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
                "o_orderdate": pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us")),
                "o_orderpriority": pa.array([gen._PRIORITIES[j] for j in rng.integers(0, 5, n)]),
            },
            schema=self.orders.schema,
        )

    # ---------------------------------------------------------- checks

    def check(self, ctx: Ctx, expected=None) -> list[tuple[str, bool, str]]:
        """Replay the logged ops against the reference model, compare
        every read and the final snapshot, and count the IVF rows."""
        from bearly_spark import interchange
        from bearly_spark.sources import txlog

        out = []
        model = check.OrdersModel(self.orders)
        cols = self.orders.column_names
        n_vec, vec_bytes = self.n_vecs, self.vec_bytes
        for i, e in enumerate(self.log):
            if e["op"] == "reset":
                model.reset()
                n_vec, vec_bytes = self.n_vecs, self.vec_bytes
            elif e["op"] == "upsert":
                model.upsert(e["delta"])
            elif e["op"] == "delete":
                model.delete(e["lo"], e["hi"])
            elif e["op"] == "ivf_upsert":
                n_vec += e["n"]
                vec_bytes += e["bytes"]
            elif e["op"] == "range_read":
                ok = check.arrow_rows(e["result"], cols) == model.range_rows(e["lo"], e["hi"])
                out.append((f"range_read#{i}", ok, "" if ok else "rows differ from the model"))
            elif e["op"] == "snapshot_agg":
                got = {r["o_orderstatus"]: (r["n"], r["total"]) for r in e["result"].to_pylist()}
                ok = got == model.status_totals()
                out.append((f"snapshot_agg#{i}", ok, "" if ok else f"{got} != model"))
        try:
            snap = interchange.to_arrow(txlog.read_table(ctx.spark, self.table))
            ok = check.arrow_rows(snap, cols) == model.snapshot()
            out.append(("final_snapshot", ok, "" if ok else f"{snap.num_rows} rows vs model {len(model.rows)}"))
        except Exception as e:  # noqa: BLE001
            out.append(("final_snapshot", False, f"{type(e).__name__}: {e}"))
        try:
            got = ctx.spark.read.parquet(f"{self.index}/cells").select("id").distinct().count()
            ok = got == n_vec
            out.append(("ivf_rows", ok, "" if ok else f"{got} ids, want {n_vec}"))
        except Exception as e:  # noqa: BLE001
            out.append(("ivf_rows", False, f"{type(e).__name__}: {e}"))
        self.live_bytes = model.nbytes() + vec_bytes
        return out

    def finish(self, ctx: Ctx) -> dict[str, float]:
        """Write and space amplification over the timed passes, and the
        per-pass write counters; call after :meth:`check`."""
        disk = _listing(self.root)
        index = {p: s for p, s in disk.items() if p.startswith(self.index) and p.endswith(".parquet")}
        n = max(1, self.passes)
        return {
            "write_amp": self.written["bytes"] / max(1, self.ingested),
            "space_amp": sum(disk.values()) / max(1, self.live_bytes),
            "txlog.files_written": self.written["data_files"] / n,
            "txlog.log_bytes": self.written["log_bytes"] / n,
            "txlog.conflicts": float(sum("TxConflict" in f for f in ctx.failures)),
            "index.files": float(len(index)),
            "index.bytes": float(sum(index.values())),
        }


WORKLOADS = {
    "tpch_10x": lambda: QueryWorkload(
        "tpch_10x", TPCH_OPS, scale=0.01, replicas=10, n_files={"lineitem": 8, "orders": 8}
    ),
    "lakehouse_rw": Lakehouse,
}


def dump_json(path: Path, obj) -> None:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True, default=str))
    os.replace(tmp, path)
