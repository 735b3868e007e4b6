#!/usr/bin/env python
"""Parse a Spark event-log directory: per-job wall + per-stage task count,
task-time sums and Python worker init/run time, grouped under job
descriptions (set via setJobDescription).

Usage: python scripts/stage_forensics.py <eventlog file or dir> [min_sec]

The only reliable way to find stage bottlenecks on this noisy VM is
task-time sums from event logs, not wall clocks (CLAUDE.md measurement
gotchas). The Python columns come from the same SQL accumulables that
``perfbench/eventlog.py`` reads. ``py_init`` runs from the worker's
``main()`` entry until its UDF is loaded, so on a reused worker it also
counts the idle wait since that worker's previous task; the fixed
set-up each Python task pays shows instead as the run time of
near-empty tasks (``tasks`` × ~250 ms at local[4])."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.eventlog import DESC, PY_ACCUMS, iter_events  # noqa: E402


def parse(path: Path):
    """(jobs, stages), both keyed by (app id, Spark id) so that several
    applications' logs in one directory do not collide."""
    jobs = {}  # key -> {desc, t0, t1, stages: [stage keys]}
    stages = {}  # key -> {name, task_time, n, shr, shw, in, py_*_ms, ...}
    app = ""
    for ev in iter_events(path):
        e = ev.get("Event")
        if e == "SparkListenerApplicationStart":
            app = ev.get("App ID", "")
        elif e == "SparkListenerJobStart":
            jobs[app, ev["Job ID"]] = {
                "desc": (ev.get("Properties") or {}).get(DESC, ""),
                "t0": ev.get("Submission Time", 0),
                "t1": 0,
                "stages": [
                    (app, s["Stage ID"]) for s in ev.get("Stage Infos", [])
                ],
            }
        elif e == "SparkListenerJobEnd":
            if (app, ev["Job ID"]) in jobs:
                jobs[app, ev["Job ID"]]["t1"] = ev.get("Completion Time", 0)
        elif e == "SparkListenerTaskEnd":
            st = stages.setdefault(
                (app, ev["Stage ID"]),
                {"task_time": 0.0, "n": 0, "shr": 0, "shw": 0, "in": 0,
                 **{v: 0 for v in PY_ACCUMS.values()}},
            )
            tm = ev.get("Task Metrics") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            st["task_time"] += tm.get("Executor Run Time", 0) / 1000.0
            st["n"] += 1
            st["shr"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            st["shw"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["in"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
                key = PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    st[key] += int(acc.get("Update") or 0)
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stages.setdefault((app, si["Stage ID"]), {}).update(
                name=si.get("Stage Name", "")
            )
    return jobs, stages


def main():
    path = Path(sys.argv[1])
    min_sec = float(sys.argv[2]) if len(sys.argv) > 2 else 0.2
    jobs, stages = parse(path)
    by_desc: dict[str, list] = {}
    for key, j in sorted(jobs.items()):
        by_desc.setdefault(j["desc"], []).append((key[1], j))
    for desc, js in by_desc.items():
        wall = sum((j["t1"] - j["t0"]) / 1000.0 for _, j in js if j["t1"])
        print(f"\n== {desc or '(unlabeled)'}: {len(js)} jobs, wall {wall:.2f}s")
        for jid, j in js:
            jw = (j["t1"] - j["t0"]) / 1000.0 if j["t1"] else 0
            if jw < min_sec:
                continue
            print(f"  job {jid}: {jw:.2f}s wall")
            for sid in j["stages"]:
                st = stages.get(sid)
                if not st or not st.get("n"):
                    continue
                py = (
                    f" py_init={st['py_init_ms']}ms py_run={st['py_run_ms']}ms"
                    if st["py_init_ms"] or st["py_run_ms"] else ""
                )
                print(
                    f"    stage {sid[1]}: tasks={st['n']} "
                    f"task_time={st['task_time']:.1f}s{py} "
                    f"in={st['in']/1e6:.0f}MB shr={st['shr']/1e6:.0f}MB "
                    f"shw={st['shw']/1e6:.0f}MB  {st.get('name','')[:80]}"
                )


if __name__ == "__main__":
    main()
