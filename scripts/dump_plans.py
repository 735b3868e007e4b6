#!/usr/bin/env python
"""Dump ``explain("formatted")`` for a set of registry entries.

Usage: python scripts/dump_plans.py <out_dir> <suffix> [sf_dir]

Writes <out_dir>/<entry>_<suffix>.txt per entry. localCheckpoint is
patched to identity so checkpoint-truncated pipelines (minhash) print
their full lineage instead of `Scan ExistingRDD`.
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame  # noqa: E402

from aether_elasticsearch_consumer_spark import registry  # noqa: E402
from aether_elasticsearch_consumer_spark.session import get_spark  # noqa: E402

ENTRIES = [
    "fulltext_bm25_topk",
    "fulltext_term_match",
    "fulltext_term_positions",
    "fulltext_highlight",
    "fulltext_phrase_scored",
    "fulltext_fuzzy_count",
    "fulltext_query_string",
    "text_quality",
    "text_lang_id",
    "text_token_count",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "ingest_filter_isin",
]


def main() -> None:
    out_dir = Path(sys.argv[1])
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    out_dir.mkdir(parents=True, exist_ok=True)
    # lineage visible: patch the CONCRETE class — in Spark 4 the
    # ``pyspark.sql.DataFrame`` name is not the classic implementation
    # class, whose own method definition wins in the MRO
    from pyspark.sql.classic.dataframe import DataFrame as _ClassicDF

    _ClassicDF.localCheckpoint = lambda self, eager=True: self
    DataFrame.localCheckpoint = lambda self, eager=True: self
    spark = get_spark("dump-plans")
    qs = registry.queries()
    for name in ENTRIES:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (out_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
            print("wrote", name, flush=True)
        except Exception as e:  # noqa: BLE001
            print("FAILED", name, e, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
