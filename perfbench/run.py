#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,search} --seed N \\
        --seconds S --trace {0,1}

Runs from any directory: the repository root is this file's parent's
parent. All scratch state (input cache, Spark local dirs, event logs,
trace reports) lives under ``<root>/.perfbench_work``. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Exits non-zero on any oracle mismatch or error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
DRIVER_MEM = "3g"


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(trace: bool) -> Path | None:
    """Process-wide settings every Spark session and Python worker in this
    run inherits: package import path, checkout-local scratch dirs."""
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    for sub in ("spark-local", "tmp", "run", "eventlog"):
        shutil.rmtree(WORK / sub, ignore_errors=True)
        (WORK / sub).mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_EVENTLOG_DIR", None)
    if trace:
        os.environ["SPARK_EVENTLOG_DIR"] = str(WORK / "eventlog")
        return WORK / "eventlog"
    return None


def _stop_jvm(spark) -> None:
    """Stop the session, shut the gateway JVM down and wait for it (its
    Python workers are its children and end with it)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _install_wrappers(tracer) -> None:
    """Spans inside ``upsert_index``: the delta build, the merge and the
    delete apply, each only when called under an ``upsert`` span."""
    from aether_elasticsearch_consumer_spark.plans import (
        index_build,
        segments,
        tombstones,
    )

    tracer.wrap(index_build.IndexBuilder, "build", "upsert.delta_build", "upsert")
    tracer.wrap(segments, "merge_indexes", "upsert.merge", "upsert")
    tracer.wrap(tombstones, "apply_deletes", "upsert.deletes", "upsert")


def main(argv: list[str]) -> int:
    args = _args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import aether_elasticsearch_consumer_spark  # noqa: F401
        from perfbench import proc
        from perfbench.workloads import Bench
    except ImportError as e:
        print(f"perfbench: cannot import the engine package: {e}", file=sys.stderr)
        return 2

    trace = bool(args.trace)
    proc.wait_for_quiet_host()
    eventlog = _environment(trace)
    bench = Bench(ROOT, WORK, args.workload, args.seed, args.seconds, trace)
    if trace:
        _install_wrappers(bench.tracer)
    t_run = time.perf_counter()
    cpu0 = proc.cpu_times()
    try:
        with proc.RssSampler() as rss:
            setup_s = bench.setup()
            bench.reset_timings()
            if args.workload == "search":
                ops, work_per_s = bench.run_search()
            else:
                ops, work_per_s = bench.run_build()
            rss.sample()
            bench.detail["steal_share"] = proc.steal_share(cpu0, proc.cpu_times())
    finally:
        _stop_jvm(bench.spark)
        shutil.rmtree(WORK / "spark-local", ignore_errors=True)
        shutil.rmtree(WORK / "run", ignore_errors=True)

    if trace:
        metrics = bench.per_layer(ops, work_per_s, eventlog, rss)
    else:
        metrics = bench.end_to_end(setup_s, ops, work_per_s)
    bench.detail["rss_mb"] = {"peak": rss.peak_mb, "p50": rss.median_mb}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "run_wall_s": time.perf_counter() - t_run,
        "ops": len(ops),
        "query_ms": bench.q_lat,
        "failures": bench.failures,
        "metrics": metrics,
        "detail": bench.detail,
    }
    out = WORK / f"report_{args.workload}_s{args.seed}_t{int(trace)}.json"
    out.write_text(json.dumps(report, indent=1, default=str))
    if trace:
        bench.tracer.dump(WORK / f"spans_{args.workload}_s{args.seed}.json")
    for f in bench.failures:
        print(f"MISMATCH {f}", file=sys.stderr)
    correct = bench.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
