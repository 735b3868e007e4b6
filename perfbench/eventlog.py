"""Spark event-log parser for the traced run.

Same reading as ``scripts/stage_forensics.py`` (job descriptions, per-stage
task sums), extended for this benchmark: it walks Spark 4 rolling event-log
directories, attributes each stage to the job description it was submitted
under, and adds CPU, GC, fetch wait, spill, retries and the Python SQL
accumulables (worker start/init/run time, bytes sent to and returned from
Python workers).

Job descriptions are set by ``trace.Tracer`` as ``<layer>#<op id>``, so the
task metrics group per layer and count per operation.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from pathlib import Path

DESC = "spark.job.description"

# task-metric fields summed per label (ms → s and ns → s where noted)
PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}


def _event_files(path: Path) -> Iterator[Path]:
    if path.is_file():
        yield path
        return
    for f in sorted(path.rglob("*")):
        if f.is_file() and not f.name.startswith((".", "appstatus")):
            yield f


def iter_events(path: Path) -> Iterator[dict]:
    for f in _event_files(path):
        with f.open(errors="replace") as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def _empty() -> dict:
    return {
        "jobs": 0, "ops": set(), "tasks": 0, "task_retries": 0,
        "task_ms": 0.0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0, "fetch_wait_ms": 0, "spill_bytes": 0,
        **{v: 0 for v in PY_ACCUMS.values()},
    }


def parse(path: Path) -> dict[str, dict]:
    """Per-layer task metrics: {layer: {jobs, ops, tasks, task_ms, ...}}.

    A stage belongs to the description its StageSubmitted event carries;
    ``ops`` is the set of op ids seen for the layer."""
    stage_desc: dict[tuple[str, int], str] = {}
    out: dict[str, dict] = {}
    app = ""
    for ev in iter_events(path):
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            app = ev.get("App ID", "")
        elif e == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get(DESC, "")
            layer, _, op = desc.partition("#")
            rec = out.setdefault(layer, _empty())
            rec["jobs"] += 1
            rec["ops"].add(op)
        elif e == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get(DESC, "")
            stage_desc[(app, ev["Stage Info"]["Stage ID"])] = desc
        elif e == "SparkListenerTaskEnd":
            desc = stage_desc.get((app, ev["Stage ID"]), "")
            rec = out.setdefault(desc.partition("#")[0], _empty())
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            rec["tasks"] += 1
            if info.get("Attempt", 0) > 0 or info.get("Failed"):
                rec["task_retries"] += 1
            rec["task_ms"] += tm.get("Executor Run Time", 0)
            rec["cpu_ns"] += tm.get("Executor CPU Time", 0)
            rec["gc_ms"] += tm.get("JVM GC Time", 0)
            rd = tm.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += rd.get("Local Bytes Read", 0) + rd.get(
                "Remote Bytes Read", 0
            )
            rec["fetch_wait_ms"] += rd.get("Fetch Wait Time", 0)
            rec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            for acc in info.get("Accumulables") or []:
                key = PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    rec[key] += int(acc.get("Update") or 0)
    return out


def layer_totals(rec: dict) -> dict[str, float]:
    """Seconds/bytes/counts of one parsed layer, op-count included."""
    return {
        "ops": len(rec["ops"]),
        "jobs": rec["jobs"],
        "tasks": rec["tasks"],
        "task_retries": rec["task_retries"],
        "task_s": rec["task_ms"] / 1e3,
        "cpu_s": rec["cpu_ns"] / 1e9,
        "gc_s": rec["gc_ms"] / 1e3,
        "shuffle_write_bytes": rec["shuffle_write_bytes"],
        "shuffle_read_bytes": rec["shuffle_read_bytes"],
        "fetch_wait_s": rec["fetch_wait_ms"] / 1e3,
        "spill_bytes": rec["spill_bytes"],
        "py_boot_s": (rec["py_start_ms"] + rec["py_init_ms"]) / 1e3,
        "py_run_s": rec["py_run_ms"] / 1e3,
        "py_bytes_sent": rec["py_bytes_sent"],
        "py_bytes_returned": rec["py_bytes_returned"],
    }
