#!/usr/bin/env python
"""spark-submit entry point: document UPSERT / DELETE through the live
index — the reference's create→update→ignore-conflict loop
(/root/reference/consumer/app/artifacts.py:513-550) carried into the
inverted index via tombstones (plans/tombstones.py).

  # re-ingest changed/new docs (keyed by url); stale postings retract
  python jobs/upsert.py --live /idx/live --docs /data/changed.parquet \
      --batch-tag 2026-08-16 [--work /idx/work]

  # tombstone docs by url (no replacement)
  python jobs/upsert.py --live /idx/live --delete-urls /data/gone.parquet \
      --batch-tag purge-1

  # physically drop dead postings (Lucene-merge analogue)
  python jobs/upsert.py --live /idx/live --compact /idx/compacted

Prints one JSON line: docs in/out, live N, tombstone count, elapsed.
Re-running a crashed invocation with the same --batch-tag is a no-op
(the batch's output already backs the live pointer) or a checkpoint
resume — the same idempotency contract as the streaming path.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from aether_elasticsearch_consumer_spark.plans.compaction import (
    CompactionPolicy,
    compaction_due,
    index_health,
    maybe_compact,
)
from aether_elasticsearch_consumer_spark.plans.live_pointer import (
    resolve_live,
)
from aether_elasticsearch_consumer_spark.plans.tombstones import (
    apply_deletes,
    compact_index,
    upsert_index,
)
from aether_elasticsearch_consumer_spark.session import get_spark


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--live", required=True, help="live index pointer (JSON pointer file; legacy symlink also resolves)")
    ap.add_argument("--docs", help="parquet of docs to upsert (url, text, …)")
    ap.add_argument("--delete-urls", help="parquet with a url column to tombstone")
    ap.add_argument("--compact", help="write a compacted (purged) index here")
    ap.add_argument(
        "--auto-compact", action="store_true",
        help="after the upsert/delete (or standalone), evaluate the "
        "compaction policy (plans/compaction.py) and, if due, rebuild the "
        "live docs and repoint --live — the policy-driven lifecycle",
    )
    ap.add_argument("--health", action="store_true",
                    help="print index health + compaction decision and exit")
    ap.add_argument("--max-delete-ratio", type=float, default=0.2)
    ap.add_argument("--min-segment-fill", type=float, default=0.5)
    ap.add_argument("--batch-tag", help="stable id for this batch (idempotency)")
    ap.add_argument("--work", help="work dir (default: <live>__work)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)
    if not (args.docs or args.delete_urls or args.compact
            or args.auto_compact or args.health):
        ap.error("one of --docs / --delete-urls / --compact / "
                 "--auto-compact / --health is required")
    if (args.docs or args.delete_urls) and not args.batch_tag:
        ap.error("--batch-tag is required for upsert/delete")

    spark = get_spark("upsert", cores=args.cores)
    work = args.work or (args.live.rstrip("/") + "__work")
    t0 = time.time()
    out: dict = {"live": args.live}

    if args.health:
        decision = compaction_due(
            spark, resolve_live(args.live),
            CompactionPolicy(
                max_delete_ratio=args.max_delete_ratio,
                min_segment_fill=args.min_segment_fill,
            ),
        )
        print(json.dumps(decision))
        spark.stop()
        return

    if args.docs:
        docs = spark.read.parquet(args.docs)
        out["docs_in"] = docs.count()
        p = upsert_index(
            spark, args.live, work, docs, args.batch_tag
        )
        out["index"] = p
    elif args.delete_urls:
        urls = spark.read.parquet(args.delete_urls).select("url").distinct()
        base = resolve_live(args.live)
        ids = (
            spark.read.parquet(f"{base}/docs/data")
            .join(urls, "url", "left_semi")
            .select("doc_id")
        )
        apply_deletes(spark, base, ids)
        out["index"] = base
    elif args.compact:
        compact_index(spark, resolve_live(args.live), args.compact)
        out["index"] = args.compact
    else:
        out["index"] = resolve_live(args.live)

    if args.auto_compact:
        res = maybe_compact(
            spark, args.live, work,
            CompactionPolicy(
                max_delete_ratio=args.max_delete_ratio,
                min_segment_fill=args.min_segment_fill,
            ),
            tag=args.batch_tag,
        )
        out["auto_compact"] = {
            k: res[k]
            for k in ("compacted", "reasons", "delete_ratio", "segment_fill")
        }
        if res["compacted"]:
            out["index"] = res["new_index_dir"]

    health = index_health(spark, out["index"])
    out.update({k: health[k] for k in ("total_docs", "tombstoned", "live_docs")})
    out["elapsed_sec"] = round(time.time() - t0, 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
