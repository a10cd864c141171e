"""Per-layer metrics from Spark's own event log.

The launcher enables the event log and tags every job with the
operation that caused it (``harness.JobGroups``), so each stage and
task can be charged to one operation without touching the package.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# SQL metric names of the Python boundary (Arrow <-> pandas) nodes.
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"


@dataclass
class GroupStats:
    """Everything the log charges to one job group."""

    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: float = 0.0
    input_bytes: float = 0.0
    shuffle_bytes: float = 0.0
    acc: dict[str, float] = field(default_factory=dict)
    spans: list[tuple[float, float]] = field(default_factory=list)


def read(eventlog_dir: str) -> dict[str, GroupStats]:
    """Group stats for every application log under ``eventlog_dir``."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                _apply(json.loads(line), groups, stage_group)
    return groups


def _group_of(props) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def _apply(e: dict, groups: dict[str, GroupStats], stage_group: dict[int, str]) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        g = _group_of(e.get("Properties"))
        if g is not None:
            groups.setdefault(g, GroupStats()).jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
    elif kind == "SparkListenerStageSubmitted":
        g = _group_of(e.get("Properties"))
        if g is not None:
            stage_group[e["Stage Info"]["Stage ID"]] = g
    elif kind == "SparkListenerTaskEnd":
        g = stage_group.get(e["Stage ID"])
        tm = e.get("Task Metrics")
        if g is None or not tm:
            return
        s = groups.setdefault(g, GroupStats())
        s.tasks += 1
        s.run_ms += tm.get("Executor Run Time", 0)
        s.gc_ms += tm.get("JVM GC Time", 0)
        s.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        s.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        s.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    elif kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        g = stage_group.get(info["Stage ID"])
        if g is None:
            return
        s = groups.setdefault(g, GroupStats())
        if info.get("Submission Time") and info.get("Completion Time"):
            s.spans.append((info["Submission Time"] / 1e3, info["Completion Time"] / 1e3))
        for a in info.get("Accumulables", []):
            name = a.get("Name", "")
            if name in (PY_SENT, PY_RECV, PY_BOOT, PY_INIT, PY_RUN):
                s.acc[name] = s.acc.get(name, 0.0) + float(a.get("Value") or 0)


#: Units of the non-time layer metrics; every other one is seconds.
UNITS = {
    "driver.jobs": "count",
    "driver.tasks": "count",
    "planner.eager_jobs": "count",
    "sources.bytes_read": "bytes",
    "jvm.shuffle_bytes": "bytes",
    "jvm.spill_bytes": "bytes",
    "arrow.bytes_to_py": "bytes",
    "arrow.bytes_from_py": "bytes",
}


def op_layers(records, groups: dict[str, GroupStats]) -> dict:
    """Driver, JVM and Python-boundary layer metrics, each the mean per
    operation over ``records`` (ops that ran in the traced window);
    times at the reference speed (``record.factor``)."""
    recs = [r for r in records if r.ok and r.group]
    if not recs:
        return {}
    tot: dict[str, float] = {}
    for r in recs:
        run = groups.get(r.group, GroupStats())
        build = groups.get("b" + r.group[1:], GroupStats())
        py_run_ms = run.acc.get(PY_RUN, 0.0)
        vals = {
            "driver.plan_build_s": r.built - r.due,
            "driver.sched_s": max((r.end - r.built) - covered(run.spans, r.built, r.end), 0.0),
            "driver.jobs": run.jobs + build.jobs,
            "driver.tasks": run.tasks + build.tasks,
            "planner.eager_jobs": build.jobs,
            "sources.bytes_read": run.input_bytes + build.input_bytes,
            "jvm.task_s": max(run.run_ms - py_run_ms, 0.0) / 1e3,
            "jvm.shuffle_bytes": run.shuffle_bytes,
            "jvm.spill_bytes": run.spill_bytes,
            "jvm.gc_s": run.gc_ms / 1e3,
            "arrow.bytes_to_py": run.acc.get(PY_SENT, 0.0),
            "arrow.bytes_from_py": run.acc.get(PY_RECV, 0.0),
            "py.boot_s": run.acc.get(PY_BOOT, 0.0) / 1e3,
            "py.init_s": run.acc.get(PY_INIT, 0.0) / 1e3,
            "py.total_s": py_run_ms / 1e3,
        }
        for k, v in vals.items():
            tot[k] = tot.get(k, 0.0) + v * (1.0 if k in UNITS else r.factor)
    return {k: (v / len(recs), UNITS.get(k, "s")) for k, v in tot.items()}


def covered(spans: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``spans``."""
    total, cur = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
