"""Segment merge / incremental indexing (X6).

The reference's only bulk-combine primitive is the reindex migration
(index_handler.py:188-218); Lucene handles real segment merges internally.
Here merging is explicit and cheap by construction: every index keeps dense
doc_ids in [0, N), so a delta index built with a ``doc_id_offset`` of the
base's N occupies a disjoint doc-id range, and merging is a pure
metadata-plus-union operation — **no posting list is ever decoded**:

- postings: union of block rows (disjoint doc ranges → block-max metadata
  and delta encodings stay valid verbatim);
- doclens: union of segment sidecars (segment ids offset);
- term_stats: groupBy(term).sum(df) over the union;
- stats: N/avgdl recombine arithmetically.

The merged output commits under the same stage-manifest contract, so a
crashed merge re-runs idempotently. This is the incremental-ingest path:
build a small delta index from new docs (same IndexBuilder, offset ids),
then merge — the base is never rewritten except term_stats.
"""

from __future__ import annotations

from dataclasses import replace
from pathlib import Path

import pyarrow.dataset as ds
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .checkpoint import content_hash, run_stage
from .index_build import DOCLENS_SCHEMA, POSTINGS_SCHEMA, TERM_STATS_SCHEMA
from .index_stats import IndexFormatError, read_stats, write_stats


def merge_indexes(
    spark: SparkSession, base_dir: str, delta_dir: str, out_dir: str,
    force: bool = False,
) -> dict:
    """Merge two indexes with disjoint doc-id ranges into ``out_dir``.

    The delta must have been built with doc_ids offset past the base's
    (see ``IndexBuilder`` + ``doc_id_offset``); segment ids must also be
    disjoint, which holds when the delta's ids start at the base's N and
    both use the same docs_per_segment.
    """
    base, delta, out = Path(base_dir), Path(delta_dir), Path(out_dir)
    sb, sd = read_stats(base), read_stats(delta)
    if sb.layout() != sd.layout():
        raise ValueError(f"cannot merge indexes with different layouts: "
                         f"{base} has {sb.layout()}, {delta} has {sd.layout()}")
    from .tombstones import delete_stats, has_deletes, union_delete_sidecars

    # the fingerprint must track the inputs' tombstone state: the same
    # (base, delta) pair with a grown delete set is a DIFFERENT merge
    del_state = [
        delete_stats(p) if has_deletes(p) else None for p in (base, delta)
    ]
    fp = content_hash(
        {"base": str(base), "delta": str(delta), "deletes": del_state, "v": 2}
    )
    manifests = {}

    # every side but docs (its optional columns vary by source) is read
    # with the build's schema: inference costs a job per read, and fails
    # on postings and term_stats when the docs had no tokens (no files)
    schemas = {"doclens": DOCLENS_SCHEMA, "postings": POSTINGS_SCHEMA,
               "term_stats": TERM_STATS_SCHEMA}

    def read(side: Path, name: str):
        r = spark.read
        if name in schemas:
            r = r.schema(schemas[name])
        return r.parquet(str(side / name / "data"))

    def union_stage(name: str):
        def stage(tmp: str) -> dict:
            a, b = read(base, name), read(delta, name)
            # docs carries the source's optional columns (warc_ts, lang)
            # only when the source has them (build_docs_df), so a base and
            # a delta built from different sources can differ in docs
            # columns; the missing ones fill NULL
            w = a.unionByName(b, allowMissingColumns=True).write.mode("overwrite")
            if name == "postings":
                w = w.partitionBy("term_bucket")
            w.parquet(tmp + "/data")
            return {}

        return stage

    for name in ("docs", "doclens", "postings"):
        manifests[name] = run_stage(name, out / name, fp, union_stage(name), force)

    def term_stats_stage(tmp: str) -> dict:
        (
            read(base, "term_stats").unionByName(read(delta, "term_stats"))
            .groupBy("term_bucket", "term")
            .agg(F.sum("df").alias("df"))
            .repartition("term_bucket")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(tmp + "/data")
        )
        return {}

    manifests["term_stats"] = run_stage(
        "term_stats", out / "term_stats", fp, term_stats_stage, force
    )

    def stats_stage(tmp: str) -> dict:
        n = sb.N + sd.N
        avgdl = (sb.avgdl * sb.N + sd.avgdl * sd.N) / n
        # each side's block max_impacts were computed against ITS build
        # avgdl; the merged reader prunes against the merged avgdl, which
        # can exceed either side's and make stored bounds underestimates.
        # Keep the MIN build avgdl so the reader's bound inflation
        # (avgdl / build_avgdl) stays conservative for every block. A side
        # with no tokens has no blocks and a build_avgdl of 0, which would
        # read as "nothing to inflate" forever after: it takes no part.
        build_avgdl = min(
            (s.build_avgdl for s in (sb, sd) if s.build_avgdl), default=0.0
        )
        write_stats(tmp, replace(sb, N=n, avgdl=avgdl, build_avgdl=build_avgdl))
        return {"N": n, "avgdl": avgdl, "build_avgdl": build_avgdl}

    manifests["stats"] = run_stage("stats", out / "stats", fp, stats_stage, force)

    if any(del_state):
        # tombstones carry through as pure metadata: doc-id and segment-id
        # ranges of the two sides are disjoint, so the delete sidecars
        # union exactly like doclens/postings — no posting ever decodes
        def deletes_stage(tmp: str) -> dict:
            union_delete_sidecars(spark, base, delta, tmp)
            return {}

        manifests["deletes"] = run_stage(
            "deletes", out / "deletes", fp, deletes_stage, force
        )
    return manifests


def next_doc_id_offset(base_dir: str) -> int:
    """Smallest docs_per_segment-aligned doc_id past the base index's max —
    the offset a delta build must use to keep segments disjoint. The max
    comes from the ``docs/data`` footers' column statistics, so no Spark job
    runs; tombstoned docs stay in ``docs/data``, so dead ids count."""
    base = Path(base_dir)
    dps = read_stats(base).docs_per_segment
    max_id = -1
    docs = ds.dataset(str(base / "docs/data"), format="parquet")
    for frag in docs.get_fragments():
        md = frag.metadata
        col = md.schema.names.index("doc_id")
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if not rg.num_rows:
                continue
            st = rg.column(col).statistics
            if st is None or not st.has_min_max:
                raise IndexFormatError(
                    f"{frag.path}: row group {i} has no doc_id statistics; "
                    "the delta offset cannot be read from the footers"
                )
            max_id = max(max_id, st.max)
    return (max_id // dps + 1) * dps
