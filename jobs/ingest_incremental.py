#!/usr/bin/env python
"""spark-submit entry point: continuous/incremental indexing — the engine's
analogue of the reference's Kafka consumer loop (artifacts.py:338-401):
new webtext arriving under --incoming becomes a delta index at a disjoint
doc-id range, then merges into the live index by metadata union.

  python jobs/ingest_incremental.py --base /idx/live \
      --incoming /data/new_batch.parquet [--work /idx/work]

Idempotent end to end: the delta build is fingerprint-gated on the
incoming path, the merge is manifest-gated, and re-running after a crash
resumes at the failed stage (the reference's save-hash-last contract).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder
from aether_elasticsearch_consumer_spark.plans.index_stats import read_stats
from aether_elasticsearch_consumer_spark.plans.segments import (
    merge_indexes,
    next_doc_id_offset,
)
from aether_elasticsearch_consumer_spark.session import get_spark


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="live index dir")
    ap.add_argument("--incoming", required=True, help="new webtext parquet")
    ap.add_argument("--work", help="work dir (default: <base>__work)")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)
    work = Path(args.work or (args.base.rstrip("/") + "__work"))

    spark = get_spark("ingest_incremental", cores=args.cores)
    base_stats = read_stats(args.base)
    t0 = time.time()
    offset = next_doc_id_offset(args.base)
    delta_dir = work / f"delta_{offset}"
    # the delta takes the base's whole layout: a merge rejects any other
    builder = IndexBuilder(
        spark, str(delta_dir), doc_id_offset=offset, **base_stats.layout()
    )
    incoming = spark.read.parquet(args.incoming)
    builder.build(incoming, fingerprint_extra={"incoming": args.incoming})
    merged_dir = work / f"merged_{offset}"
    merge_indexes(spark, args.base, str(delta_dir), str(merged_dir))
    print(
        json.dumps(
            {
                "base": args.base,
                "merged": str(merged_dir),
                "docs_before": base_stats.N,
                "docs_after": read_stats(merged_dir).N,
                "doc_id_offset": offset,
                "elapsed_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
