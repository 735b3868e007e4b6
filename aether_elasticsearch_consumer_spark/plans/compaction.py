"""Policy-driven compaction — the automatic half of the upsert→tombstone
lifecycle.

Reference parity: the consumer's migration story rebuilds an index and
swaps the alias when the schema/config hash changes
(/root/reference/consumer/app/index_handler.py:188-218 — ``handle_new``
creates the new index, re-registers, and the alias moves).  Lucene below
ES does the data-side equivalent continuously: background merge policies
(TieredMergePolicy) fold tombstone-laden segments away when deletes or
fragmentation cross thresholds.  This module is that merge policy for the
engine's index layout: pure-metadata triggers, one physical rebuild
(``compact_index``), one atomic live-pointer commit.

Triggers (all O(metadata) — a stats row, the delete sidecar count, the
doclens row count, read with pyarrow; no postings are read and no Spark
job runs to DECIDE):

- ``max_delete_ratio``: tombstoned/total docs — dead postings cost scan
  time and the delete anti-join on every query;
- ``min_segment_fill``: live_docs / (n_segments × docs_per_segment) —
  repeated delta merges leave many under-filled segments (each segment is
  a scoring task: fill drives per-task efficiency);
- ``max_bound_scale``: live avgdl/build_avgdl — merged and tombstoned
  indexes inflate block-max bounds by this factor (operators/topk.py),
  weakening MaxScore pruning; compaction rebuilds exact bounds.

At 100 TB the decision reads a handful of parquet footers; the rebuild
itself is the standard index build over the live docs — the same one
wide shuffle, scheduled only when the policy says the read-side tax
exceeds it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow.dataset as ds
from pyspark.sql import SparkSession

from .index_stats import live_stats, read_stats
from .live_pointer import commit_live_pointer, resolve_live
from .tombstones import compact_index


@dataclass(frozen=True)
class CompactionPolicy:
    max_delete_ratio: float = 0.2
    min_segment_fill: float = 0.5
    max_bound_scale: float = 1.5
    min_total_docs: int = 1  # never bother below this corpus size


def index_health(spark: SparkSession, index_dir: str) -> dict:
    """The metadata a compaction decision needs — also a useful ops
    surface on its own (the reference exposes consumer healthchecks;
    this is the index-side analogue). Pyarrow only: ``spark`` goes unused."""
    d = Path(index_dir)
    st = read_stats(d)
    doclens = ds.dataset(str(d / "doclens" / "data"), format="parquet")
    live = live_stats(d, st, lambda: doclens)
    n_segments = doclens.count_rows()
    return {
        "index_dir": str(d),
        "total_docs": st.N,
        "tombstoned": live.n_deleted,
        "live_docs": live.N,
        "delete_ratio": (live.n_deleted / st.N) if st.N else 0.0,
        "n_segments": n_segments,
        "segment_fill": (
            live.N / (n_segments * st.docs_per_segment) if n_segments else 1.0
        ),
        # the factor the reader inflates block bounds by, over live docs
        "bound_scale": live.bound_scale,
    }


def compaction_due(
    spark: SparkSession,
    index_dir: str,
    policy: CompactionPolicy = CompactionPolicy(),
) -> dict:
    """Evaluate the policy → {"due": bool, "reasons": [...], **health}."""
    h = index_health(spark, index_dir)
    reasons = []
    if h["total_docs"] >= policy.min_total_docs:
        if h["delete_ratio"] >= policy.max_delete_ratio:
            reasons.append(
                f"delete_ratio {h['delete_ratio']:.3f} >= {policy.max_delete_ratio}"
            )
        if h["segment_fill"] <= policy.min_segment_fill:
            reasons.append(
                f"segment_fill {h['segment_fill']:.3f} <= {policy.min_segment_fill}"
            )
        if h["bound_scale"] >= policy.max_bound_scale:
            reasons.append(
                f"bound_scale {h['bound_scale']:.3f} >= {policy.max_bound_scale}"
            )
    return {"due": bool(reasons), "reasons": reasons, **h}


def maybe_compact(
    spark: SparkSession,
    live: str,
    work_dir: str,
    policy: CompactionPolicy = CompactionPolicy(),
    tag: str | None = None,
    force: bool = False,
) -> dict:
    """The scheduled entry point: resolve the live pointer, evaluate the
    policy, and — only when due (or forced) — rebuild the live docs into
    ``<work_dir>/compact_<tag>`` and atomically repoint ``live``.

    Readers opened before the commit keep serving the old directory (the
    pointer resolves at open); the old dir is left for the operator's
    retention sweep, like every superseded upsert generation.  Re-running
    with the same ``tag`` resumes/no-ops via the build checkpoints."""
    base = resolve_live(live)
    if base is None:
        raise FileNotFoundError(f"no live index at {live}")
    decision = compaction_due(spark, base, policy)
    if not (decision["due"] or force):
        return {**decision, "compacted": False}
    tag = tag or time.strftime("%Y%m%d%H%M%S")
    out = Path(work_dir) / f"compact_{tag}"
    compact_index(spark, base, str(out))
    commit_live_pointer(live, out)
    return {
        **decision,
        "compacted": True,
        "forced": bool(force and not decision["due"]),
        "new_index_dir": str(out.resolve()),
    }
