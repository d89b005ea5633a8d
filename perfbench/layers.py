"""Per-layer metrics of a traced run, from the Spark event log and the spans.

The event log is enabled from outside the program (``--conf`` at JVM
launch) and every job carries the job group ``workload|pass|op|phase``
that :class:`workloads.Ctx` set around the call that launched it, so
each job, stage and task is attributed to one span.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"

#: per-layer metric name -> unit, in the order they are reported
UNITS = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.warmup_build_s": "s",
    "plan.catalyst_s": "s",
    "exec.sink_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.task_wait_s": "s",
    "exec.gc_s": "s",
    "exec.task_skew": "ratio",
    "exec.input_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "udf.rows_to_python": "count",
    "udf.bytes_to_python": "bytes",
    "udf.bytes_from_python": "bytes",
    "interchange.from_arrow_s": "s",
    "interchange.to_arrow_s": "s",
    "interchange.to_arrow_bytes": "bytes",
    "txlog.commit_s": "s",
    "txlog.commits": "count",
    "txlog.files_written": "count",
    "txlog.bytes_written": "bytes",
    "txlog.log_bytes": "bytes",
    "txlog.conflicts": "count",
    "txlog.plan_s": "s",
    "txlog.skip_ratio": "ratio",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "merge.cow_s": "s",
    "merge.dv_s": "s",
    "merge.files_rewritten": "count",
    "index.upsert_s": "s",
    "index.compact_s": "s",
    "index.files": "count",
    "index.bytes": "bytes",
}


class _Group:
    """Event-log totals of one job group."""

    def __init__(self):
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0
        self.run_ms = self.cpu_ns = self.gc_ms = self.wait_ms = 0
        self.input = self.shuffle_read = self.shuffle_write = self.spill = 0
        self.py_sent = self.py_recv = self.py_rows_in = 0
        self.stage_task_ms: dict[tuple, list[int]] = defaultdict(list)


def _python_metric_ids(plan: dict, sent: set, recv: set, rows_in: set) -> None:
    """Collect accumulator ids of the Python-eval nodes' byte metrics and
    of the row counts feeding them (nearest descendant with a row
    count on each input path)."""

    def nearest_rows(node):
        for m in node.get("metrics", []):
            if m["name"] == _ROWS:
                rows_in.add(m["accumulatorId"])
                return
        for ch in node.get("children", []):
            nearest_rows(ch)

    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in names:
        sent.add(names[_PY_SENT])
        recv.add(names.get(_PY_RECV))
        for ch in plan.get("children", []):
            nearest_rows(ch)
    for ch in plan.get("children", []):
        _python_metric_ids(ch, sent, recv, rows_in)


def parse_event_logs(log_dir: Path) -> dict[str, _Group]:
    groups: dict[str, _Group] = defaultdict(_Group)
    for path in sorted(log_dir.iterdir()):
        if path.name.endswith(".inprogress") and not path.stat().st_size:
            continue
        stage_group: dict[int, str] = {}
        submitted: dict[tuple, int] = {}
        sent: set = set()
        recv: set = set()
        rows_in: set = set()
        with path.open() as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                    groups[g].jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = g
                elif ev == "SparkListenerStageSubmitted":
                    si = e["Stage Info"]
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    submitted[key] = si.get("Submission Time") or 0
                    groups[stage_group.get(si["Stage ID"], "")].stages += 1
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    _python_metric_ids(e["sparkPlanInfo"], sent, recv, rows_in)
                elif ev == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    g = groups[stage_group.get(sid, "")]
                    info = e["Task Info"]
                    g.tasks += 1
                    if info.get("Failed") or info.get("Killed"):
                        g.failed_tasks += 1
                    sub = submitted.get((sid, e.get("Stage Attempt ID", 0)))
                    if sub:
                        g.wait_ms += max(0, info["Launch Time"] - sub)
                    g.stage_task_ms[(path.name, sid)].append(info["Finish Time"] - info["Launch Time"])
                    m = e.get("Task Metrics") or {}
                    g.run_ms += m.get("Executor Run Time", 0)
                    g.cpu_ns += m.get("Executor CPU Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    g.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    g.input += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    for acc in info.get("Accumulables", []):
                        aid = acc.get("ID")
                        if aid in sent or aid in recv or aid in rows_in:
                            try:
                                v = int(float(acc.get("Update") or 0))
                            except (TypeError, ValueError):
                                continue
                            if aid in sent:
                                g.py_sent += v
                            elif aid in recv:
                                g.py_recv += v
                            else:
                                g.py_rows_in += v
    return groups


def _skew(stage_task_ms: dict[tuple, list[int]]) -> float:
    """Max over stages with at least two tasks of max/median task time."""
    best = 1.0
    for times in stage_task_ms.values():
        if len(times) >= 2:
            med = statistics.median(times)
            if med > 0:
                best = max(best, max(times) / med)
    return best


def _exec_metrics(gs: list[_Group]) -> dict[str, float]:
    merged: dict[tuple, list[int]] = {}
    for g in gs:
        merged.update(g.stage_task_ms)
    return {
        "exec.jobs": sum(g.jobs for g in gs),
        "exec.stages": sum(g.stages for g in gs),
        "exec.tasks": sum(g.tasks for g in gs),
        "exec.failed_tasks": sum(g.failed_tasks for g in gs),
        "exec.task_run_s": sum(g.run_ms for g in gs) / 1e3,
        "exec.task_cpu_s": sum(g.cpu_ns for g in gs) / 1e9,
        "exec.task_wait_s": sum(g.wait_ms for g in gs) / 1e3,
        "exec.gc_s": sum(g.gc_ms for g in gs) / 1e3,
        "exec.task_skew": _skew(merged),
        "exec.input_bytes": sum(g.input for g in gs),
        "exec.shuffle_read_bytes": sum(g.shuffle_read for g in gs),
        "exec.shuffle_write_bytes": sum(g.shuffle_write for g in gs),
        "exec.spill_bytes": sum(g.spill for g in gs),
    }


def per_layer(workload: str, spans: list[dict], groups: dict[str, _Group],
              timed: list[str], setups: list[str], extra: dict) -> dict:
    """Per-op and workload-level layer metrics, each a mean per timed
    pass (``exec.task_skew`` is a max, ratios are over the whole run)."""
    n = max(1, len(timed))
    by_op: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        if s["pass"] in timed:
            by_op[s["op"]].append(s)

    def dur(ss, phase=None):
        return sum(s["t1"] - s["t0"] for s in ss
                   if (phase is None or s["phase"] == phase))

    def grp(op, phases=None):
        out = []
        for key, g in groups.items():
            parts = key.split("|")
            if len(parts) == 4 and parts[0] == workload and parts[1] in timed and parts[2] == op:
                if phases is None or parts[3] in phases:
                    out.append(g)
        return out

    ops = {}
    for op, ss in by_op.items():
        m = {
            "registry.build_s": dur(ss, "build") / n,
            "registry.build_jobs": sum(g.jobs for g in grp(op, {"build"})) / n,
            "plan.catalyst_s": sum(s.get("catalyst_s", 0.0) for s in ss) / n,
            "exec.sink_s": dur(ss, "exec") / n,
        }
        ex = _exec_metrics(grp(op, {"exec", "run", "to_arrow", "from_arrow"}))
        m.update({k: (v if k == "exec.task_skew" else v / n) for k, v in ex.items()})
        allg = grp(op)
        m["udf.rows_to_python"] = sum(g.py_rows_in for g in allg) / n
        m["udf.bytes_to_python"] = sum(g.py_sent for g in allg) / n
        m["udf.bytes_from_python"] = sum(g.py_recv for g in allg) / n
        m["interchange.from_arrow_s"] = dur(ss, "from_arrow") / n
        m["interchange.to_arrow_s"] = dur(ss, "to_arrow") / n
        m["interchange.to_arrow_bytes"] = sum(s.get("bytes", 0) for s in ss if s["phase"] == "to_arrow") / n
        runs = [s for s in ss if s["phase"] == "run"]
        if op in ("upsert_cow", "upsert_dv", "delete", "compact", "vacuum"):
            m["txlog.commit_s"] = dur(runs) / n
            m["txlog.commits"] = sum(1 for s in runs if op != "vacuum" and s.get("ok")) / n
            m["txlog.bytes_written"] = sum(s.get("bytes_written", 0) for s in runs) / n
        if op in ("upsert_cow", "upsert_dv"):
            m["merge.cow_s" if op == "upsert_cow" else "merge.dv_s"] = dur(runs) / n
            m["merge.files_rewritten"] = sum(
                (s.get("stats") or {}).get("files_rewritten", 0) for s in runs) / n
        plans = [s for s in ss if s["phase"] == "plan_files"]
        if plans:
            m["txlog.plan_s"] = dur(plans) / n
        if op == "ivf_upsert":
            m["index.upsert_s"] = dur(runs) / n
        if op == "compact_ivf":
            m["index.compact_s"] = dur(runs) / n
        ops[op] = m

    total: dict[str, float] = {}
    for m in ops.values():
        for k, v in m.items():
            total[k] = max(total.get(k, 0.0), v) if k == "exec.task_skew" else total.get(k, 0.0) + v
    plans = [s for s in spans if s["pass"] in timed and s["phase"] == "plan_files"]
    live = sum(s.get("live", 0) for s in plans)
    if live:
        total["txlog.skip_ratio"] = sum(s.get("skipped", 0) for s in plans) / live
    warm = [sum(s["t1"] - s["t0"] for s in spans if s["pass"] == lbl and s["phase"] == "build")
            for lbl in setups]
    total["registry.warmup_build_s"] = statistics.median(warm) if warm else 0.0
    total.update(extra)
    total = {k: float(total.get(k, 0.0)) for k in UNITS}
    return {"workload": total, "ops": ops}
