"""bearly-spark benchmark: end-to-end and per-layer metrics per workload.

    python3 perfbench/run.py --workload tpch_10x --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It generates its inputs under
``.perfbench/`` (same inputs for every seed; the seed sets the op order
of each pass and every random choice of the write workload), sets the
session up three times, runs untimed warm-up passes for 10 s, then
timed passes for ``--seconds`` seconds, checks every output untimed,
and prints one JSON line last on stdout.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns the
Spark event log on at JVM launch and reports per-layer metrics instead,
also written to ``.perfbench/results/layers.json``. Everything else goes
to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
WARMUP_S = 10.0
SHUFFLE_PARTITIONS = "8"


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: Path, traced: bool) -> None:
    """Everything the JVM and the Python workers need, set before the
    first session starts: the checkout on PYTHONPATH (workers import
    bearly_spark from it), temp and local dirs inside the checkout, and
    in a traced run the event log."""
    for d in ("tmp", "spark-local", "eventlog"):
        shutil.rmtree(work / d, ignore_errors=True)
        (work / d).mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["BEARLY_SHUFFLE_PARTITIONS"] = SHUFFLE_PARTITIONS
    os.environ["BEARLY_DRIVER_MEM"] = "3g"
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    confs = [f"spark.sql.warehouse.dir={work / 'warehouse'}"]
    if traced:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'eventlog'}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf '{c}'" for c in confs) + " pyspark-shell"
    sys.path.insert(0, str(ROOT))


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            try:
                ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(p.name))
    out, stack = [], [pid]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def _peak_rss_mb() -> float:
    """Sum of each process's peak RSS (VmHWM) over the driver, the JVM
    and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and the
    Python workers have exited."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return
    kids = _descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that does not exit is killed
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while time.time() < deadline and any(Path(f"/proc/{k}").exists() for k in kids):
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, 9)
        except OSError:
            pass


def _quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    xs = sorted(values)
    i = q * (len(xs) - 1)
    lo = math.floor(i)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)


def _op_latencies(spans: list[dict], timed: set[str]) -> dict[str, list[float]]:
    """Per op, one latency per timed pass: the sum of its top-level
    spans (build + exec for a query, the call itself for a write or
    read)."""
    acc: dict[tuple[str, str], float] = {}
    for s in spans:
        if s["pass"] in timed and s["phase"] in ("build", "exec", "run") and s.get("ok"):
            key = (s["op"], s["pass"])
            acc[key] = acc.get(key, 0.0) + s["t1"] - s["t0"]
    out: dict[str, list[float]] = {}
    for (op, _), v in sorted(acc.items()):
        out.setdefault(op, []).append(v)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "bearly_spark" / "__init__.py").is_file():
        _log(f"no bearly_spark package next to {HERE}: run from a full checkout")
        return 2
    sys.path.insert(0, str(HERE))
    import numpy as np

    import workloads as W

    if args.workload not in W.WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
        return 2
    traced = bool(args.trace)
    work = ROOT / ".perfbench"
    _prepare_env(work, traced)
    wl = W.WORKLOADS[args.workload]()
    wl.rng = np.random.default_rng(args.seed)
    order_rng = np.random.default_rng([args.seed, 1])

    t = time.perf_counter()
    wl.make_inputs(work / "data")
    _log(f"inputs: {time.perf_counter() - t:.2f}s")
    expected = json.loads((HERE / "expected.json").read_text()).get(wl.name, {})
    ctx = W.Ctx(wl.name, traced)
    try:
        return _measure(args, wl, ctx, work, expected, order_rng)
    finally:
        _stop_spark(ctx.spark)


def _measure(args, wl, ctx, work: Path, expected: dict, order_rng) -> int:
    import workloads as W
    from bearly_spark.session import get_spark

    traced = ctx.traced
    setups, starts, spark = [], [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        wl.refresh()
        t0 = time.perf_counter()
        spark = ctx.spark = get_spark(f"perfbench-{wl.name}")
        spark.sparkContext.setLogLevel("ERROR")
        starts.append(time.perf_counter() - t0)
        wl.setup(ctx, f"setup{i}")
        setups.append(time.perf_counter() - t0)
        _log(f"setup{i}: {setups[-1]:.2f}s (session {starts[-1]:.2f}s)")

    def run_passes(prefix: str, seconds: float) -> list[float]:
        times: list[float] = []
        t_begin = time.perf_counter()
        while not times or time.perf_counter() - t_begin < seconds:
            order = list(wl.ops)
            order_rng.shuffle(order)
            t0 = time.perf_counter()
            wl.run_pass(ctx, f"{prefix}{len(times)}", order)
            times.append(time.perf_counter() - t0)
            _log(f"{prefix}{len(times) - 1}: {times[-1]:.3f}s")
        return times

    # after the setups the JIT still speeds passes up for about 10 s
    # (tpch_10x: 2.2 s -> 1.6 s), so those passes run untimed
    run_passes("warm", WARMUP_S)
    wl.reset_counters()
    passes = run_passes("pass", args.seconds)
    timed = [f"pass{i}" for i in range(len(passes))]
    failed_ops = len(ctx.failures)
    attempted_ops = ctx.attempted

    _log("checking outputs")
    checks = wl.check(ctx, expected)
    extra = wl.finish(ctx)
    bad = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        if not ok:
            _log(f"CHECK FAIL {name}: {detail}")
    for f in ctx.failures:
        _log(f"OP FAIL {f}")
    rss = _peak_rss_mb()
    _stop_spark(spark)  # also completes the event log before it is parsed

    attempted = attempted_ops + len(checks)
    failed = failed_ops + len(bad)
    lat = _op_latencies(ctx.spans, set(timed))
    medians = [statistics.median(v) for v in lat.values()]
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "pass_s": (statistics.median(passes), "s"),
        "op_geomean_s": (math.exp(statistics.fmean(math.log(m) for m in medians)) if medians else float("nan"), "s"),
    }
    # peak RSS swings by up to a third between runs (JVM heap growth),
    # too wide for a regression bound: reported, not gated
    report = {**e2e, "peak_rss_mb": (rss, "MB"), "failed_frac": (failed / attempted, "ratio")}
    for kind, ops in (("write", wl.writes), ("read", wl.reads)):
        xs = [x for op in ops for x in lat.get(op, [])]
        if xs:
            report[f"{kind}_p50_s"] = (_quantile(xs, 0.5), "s")
            report[f"{kind}_p90_s"] = (_quantile(xs, 0.9), "s")
    for k in ("write_amp", "space_amp"):
        if k in extra:
            report[k] = (extra[k], "ratio")

    results = work / "results"
    results.mkdir(parents=True, exist_ok=True)
    summary = {
        "workload": wl.name, "seed": args.seed, "traced": traced,
        "passes": passes, "setups": setups, "session_starts": starts,
        "op_latencies_s": lat, "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
        "failures": ctx.failures + [f"{n}: {d}" for n, ok, d in checks if not ok],
    }
    W.dump_json(results / f"{wl.name}{'-traced' if traced else ''}.json", summary)

    _log(f"\n{wl.name} seed={args.seed} passes={len(passes)} ops/pass={len(wl.ops)} "
         f"attempted={attempted} failed={failed}" + (" (traced)" if traced else ""))
    for k, (v, u) in report.items():
        _log(f"  {k:<16} {v:12.4f} {u}")

    if traced:
        import layers

        groups = layers.parse_event_logs(work / "eventlog")
        extra = {**extra, "session.start_s": statistics.median(starts), "process.peak_rss_mb": rss}
        per = layers.per_layer(wl.name, ctx.spans, groups, timed,
                               [f"setup{i}" for i in range(SETUPS)], extra)
        untraced = results / f"{wl.name}.json"
        overhead = None
        if untraced.exists():
            base = json.loads(untraced.read_text())
            overhead = statistics.median(passes) - base["metrics"]["pass_s"]["value"]
        layers_file = results / "layers.json"
        allw = json.loads(layers_file.read_text()) if layers_file.exists() else {}
        allw[wl.name] = {
            "seed": args.seed, "passes": len(passes),
            "traced_pass_s": statistics.median(passes),
            "tracing_overhead_s": overhead,
            "workload": per["workload"], "ops": per["ops"],
            "spans": ctx.spans,
        }
        W.dump_json(layers_file, allw)
        for k, v in per["workload"].items():
            _log(f"  {k:<28} {v:14.4f} {layers.UNITS[k]}")
        _log(f"  tracing overhead (traced - untraced pass_s): {overhead}")
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in per["workload"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
