"""Event-log parser and span tests (no Spark needed).

    python3 -m pytest perfbench/test_eventlog.py -q
"""

from __future__ import annotations

import json

from perfbench.eventlog import layer_totals, parse
from perfbench.trace import Tracer


def _task_end(stage: int, run_ms: int, py: dict[str, int], attempt: int = 0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Attempt": attempt,
            "Failed": False,
            "Accumulables": [
                {"Name": name, "Update": str(v)} for name, v in py.items()
            ] + [{"Name": "number of output rows", "Update": "7"}],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": 2_000_000,
            "JVM GC Time": 3,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Local Bytes Read": 100,
                                     "Remote Bytes Read": 0,
                                     "Fetch Wait Time": 1},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 50},
        },
    }


def _job(job: int, stages: list[int], desc: str) -> list[dict]:
    props = {"spark.job.description": desc}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job,
         "Stage IDs": stages, "Properties": props},
        *[{"Event": "SparkListenerStageSubmitted",
           "Stage Info": {"Stage ID": s}, "Properties": props} for s in stages],
    ]


def _write_rolling_log(root, app: str, events: list[dict]) -> None:
    d = root / f"eventlog_v2_{app}"
    d.mkdir(parents=True)
    (d / f"appstatus_{app}").write_text("")
    (d / f"events_1_{app}").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n"
    )


def test_labels_and_python_metrics(tmp_path):
    py = {
        "time to start Python workers": 40,
        "time to initialize Python workers": 10,
        "time to run Python workers": 300,
        "data sent to Python workers": 4096,
        "data returned from Python workers": 64,
    }
    app1 = [{"Event": "SparkListenerApplicationStart", "App ID": "a1"}]
    app1 += _job(0, [0], "build.plain#0")
    app1 += [_task_end(0, 1000, {}), _task_end(0, 500, {}, attempt=1)]
    app1 += _job(1, [1, 2], "reader.collect#q1")
    app1 += [_task_end(1, 20, {}), _task_end(2, 400, py)]
    # a second session restarts stage ids at 0: must not merge with a1
    app2 = [{"Event": "SparkListenerApplicationStart", "App ID": "a2"}]
    app2 += _job(0, [0], "reader.collect#q2")
    app2 += [_task_end(0, 100, py)]
    _write_rolling_log(tmp_path, "a1", app1)
    _write_rolling_log(tmp_path, "a2", app2)

    layers = parse(tmp_path)
    assert set(layers) == {"build.plain", "reader.collect"}
    b = layer_totals(layers["build.plain"])
    assert b["ops"] == 1 and b["tasks"] == 2 and b["task_retries"] == 1
    assert b["task_s"] == 1.5 and b["py_bytes_sent"] == 0
    r = layer_totals(layers["reader.collect"])
    assert r["ops"] == 2 and r["jobs"] == 2 and r["tasks"] == 3
    assert r["py_run_s"] == 0.6
    assert r["py_boot_s"] == 0.1
    assert r["py_bytes_sent"] == 8192 and r["py_bytes_returned"] == 128
    assert r["shuffle_read_bytes"] == 300 and r["shuffle_write_bytes"] == 150


def test_span_self_time():
    tr = Tracer(True)
    with tr.span("upsert", "b0"):
        with tr.span("upsert.merge", "b0"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == 0 and inner["op"] == "b0"
    st = tr.self_times()
    assert abs(st["upsert"] + st["upsert.merge"]
               - (outer["t1"] - outer["t0"])) < 1e-9
    assert Tracer(False).spans == []
