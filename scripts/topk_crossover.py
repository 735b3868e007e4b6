#!/usr/bin/env python
"""Driver-vs-Spark crossover for BM25 top-k search.

``IndexReader.search`` scores on the driver when the query terms' summed
df (Σdf) is at or under ``operators.topk._DRIVER_SCORE_MAX_DF`` and plans
the Spark scorer above it. This script measures where the two sides cross
so that constant can be re-derived on other hardware:

1. builds (or reuses) a webtext index of ``--docs`` documents with
   ``IndexBuilder``;
2. draws query shapes from the vocabulary's head, mid and tail ranks so
   that Σdf spans several decades;
3. times ``search(q, k).collect()`` on each side, interleaved query by
   query and repeat by repeat (the side that goes first alternates), and
   checks both sides return the same rows;
4. times the driver side once more per query and repeat with its calls
   wrapped, for the median of each phase: ``term_dfs``, the pruned
   postings read, ``_score_segments`` (sidecar read included), the
   local-relation create and ``collect``;
5. prints one JSON line per Σdf band with both p50s and the driver
   side's phase medians, then the largest band edge at which the driver
   is still no slower.

Usage:
    python scripts/topk_crossover.py [--docs 200000] [--index-dir DIR]
        [--cores 4] [--repeats 5] [--k 10]

A reused ``--index-dir`` skips the build (checkpoint resume).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import statistics
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Σdf band edges for the printed table
BANDS = [0, 1_000, 3_000, 10_000, 30_000, 100_000, 200_000, 300_000,
         500_000, 1_000_000, 1_500_000, 2_000_000, 3_000_000, 5_000_000,
         10_000_000]


# the driver side's phases of one search, in call order
PHASES = ["term_dfs", "postings_read", "score", "create", "collect"]


@contextlib.contextmanager
def _driver_phases(rd, topk):
    """Wrap the calls the driver side of ``rd.search`` makes, so each
    call's wall ms lands in the yielded {phase: [ms]} (``collect`` is the
    caller's to time). Restores every wrapped call on exit."""
    ms: dict[str, list[float]] = {p: [] for p in PHASES}

    def timed(phase, fn):
        def run(*args, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kw)
            finally:
                ms[phase].append((time.perf_counter() - t0) * 1e3)
        return run

    postings, real_pa = rd._pa("postings/data"), rd._pa

    class TimedPostings:
        to_table = staticmethod(timed("postings_read", postings.to_table))

    real_score = topk._score_segments
    rd.term_dfs = timed("term_dfs", rd.term_dfs)
    rd._pa = lambda sub: TimedPostings if sub == "postings/data" else real_pa(sub)
    rd.spark.createDataFrame = timed("create", rd.spark.createDataFrame)
    topk._score_segments = timed("score", real_score)
    try:
        yield ms
    finally:
        del rd.term_dfs, rd._pa, rd.spark.createDataFrame
        topk._score_segments = real_score


def _queries(seed: int = 3) -> list[list[str]]:
    """Query shapes over vocabulary ranks: single head/mid/tail terms and
    2-64-term mixes, so Σdf runs from tens of postings to ~N·terms."""
    import numpy as np

    from aether_elasticsearch_consumer_spark.fixtures.webtext import vocab

    voc = vocab()
    rng = np.random.Generator(np.random.Philox(key=seed))
    singles = [[voc[r]] for r in (0, 2, 5, 10, 20, 40, 80, 150, 300, 600,
                                  1200, 2500, 5000, 10_000)]
    mixes = []
    for n_terms in (2, 3, 5):
        for lo, hi in ((0, 50), (50, 400), (200, 2000), (0, 2000)):
            mixes.append(
                [voc[int(r)] for r in rng.integers(lo, hi, size=n_terms)]
            )
    # long head-term queries push Σdf past N (up to ~N·terms)
    for n_terms in (8, 12, 16, 24, 32, 48, 64):
        for lo, hi in ((0, 50), (0, 400)):
            mixes.append(
                [voc[int(r)] for r in rng.integers(lo, hi, size=n_terms)]
            )
    return singles + mixes


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=200_000)
    ap.add_argument("--index-dir", default=None)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
    from aether_elasticsearch_consumer_spark.operators import topk
    from aether_elasticsearch_consumer_spark.plans.index_build import (
        IndexBuilder,
    )
    from aether_elasticsearch_consumer_spark.session import get_spark

    spark = get_spark("topk-crossover", cores=args.cores)
    idx = args.index_dir or str(
        Path(tempfile.gettempdir()) / f"topk_crossover_{args.docs}"
    )
    t0 = time.perf_counter()
    IndexBuilder(spark, idx).build(
        webtext_df(spark, args.docs), fingerprint_extra=f"xover{args.docs}"
    )
    print(json.dumps({"index": idx, "docs": args.docs,
                      "build_s": round(time.perf_counter() - t0, 1)}),
          flush=True)

    rd = topk.IndexReader(spark, idx)
    cap = topk._DRIVER_SCORE_MAX_DF
    sides = {"driver": float("inf"), "spark": -1}

    def timed(side: str, q: str) -> tuple[float, list]:
        topk._DRIVER_SCORE_MAX_DF = sides[side]
        t = time.perf_counter()
        rows = rd.search(q, k=args.k).collect()
        return (time.perf_counter() - t) * 1e3, rows

    rows_out = []
    try:
        for terms in _queries():
            q = " ".join(terms)
            sdf = sum(rd.term_dfs(sorted(set(terms))).values())
            for side in sides:  # warm both sides' plans and handles
                timed(side, q)
            lat: dict[str, list[float]] = {s: [] for s in sides}
            for rep in range(args.repeats):
                order = list(sides) if rep % 2 == 0 else list(sides)[::-1]
                got = {}
                for side in order:
                    ms, got[side] = timed(side, q)
                    lat[side].append(ms)
                if got["driver"] != got["spark"]:
                    raise SystemExit(f"driver/spark answers differ for {q!r}")
            topk._DRIVER_SCORE_MAX_DF = sides["driver"]
            with _driver_phases(rd, topk) as ph:
                for _ in range(args.repeats):
                    df = rd.search(q, k=args.k)
                    t = time.perf_counter()
                    df.collect()
                    ph["collect"].append((time.perf_counter() - t) * 1e3)
            phases = {p: statistics.median(v) for p, v in ph.items() if v}
            rows_out.append((sdf, statistics.median(lat["driver"]),
                             statistics.median(lat["spark"]), phases))
            print(json.dumps({"query": q, "sum_df": sdf,
                              "driver_p50_ms": round(rows_out[-1][1], 1),
                              "spark_p50_ms": round(rows_out[-1][2], 1)}),
                  flush=True)
    finally:
        topk._DRIVER_SCORE_MAX_DF = cap

    print("# sum_df band -> p50 ms (queries in band)")
    crossover, driver_wins = 0, True
    for lo, hi in zip(BANDS[:-1], BANDS[1:]):
        band = [r for r in rows_out if lo < r[0] <= hi]
        if not band:
            continue
        d = statistics.median(r[1] for r in band)
        s = statistics.median(r[2] for r in band)
        phases = {
            p: round(statistics.median(v), 1)
            for p in PHASES
            if (v := [r[3][p] for r in band if p in r[3]])
        }
        print(json.dumps({"sum_df_band": [lo, hi], "n": len(band),
                          "driver_p50_ms": round(d, 1),
                          "spark_p50_ms": round(s, 1),
                          "driver_over_spark": round(d / s, 2),
                          "driver_phase_p50_ms": phases}))
        driver_wins = driver_wins and d <= s
        if driver_wins:
            crossover = hi
    print(json.dumps({"driver_no_slower_up_to_sum_df": crossover,
                      "current_cap": cap}))
    spark.stop()


if __name__ == "__main__":
    main()
