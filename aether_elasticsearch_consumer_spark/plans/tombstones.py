"""Index-level document delete/update — tombstones (delete vectors).

Reference parity: the reference's upsert writes a doc under a stable id and
Elasticsearch/Lucene replaces its postings — create, fall back to update,
ignore version conflicts (/root/reference/consumer/app/artifacts.py:513-550,
idempotency pinned by consumer/tests/test_job_consumer.py:158-171). This
repo's docs-table upsert (`sources/catalog.py merge_upsert`) already covers
the table side; this module closes the INDEX side: re-ingesting a changed
document retracts its stale postings from every query path without
rewriting a single posting block.

Design (Lucene-style delete vectors, but with EXACT post-delete scoring):

    index_dir/deletes/
      doc_ids/data/    (doc_id)                      # source of truth
      segments/data/   (segment_id, deleted, n_deleted)
                       # per-segment varbyte blob of deleted doc ids —
                       # joins the query plan exactly like the doclens
                       # sidecar, so the scorer masks dead docs in-task
      term_df/data/    term_bucket=*/ (term, df_delta)
                       # docs-containing-term counts over the deleted set;
                       # pruned at query time by the same term_bucket
                       # directory + term row-group pushdown as term_stats
      stats/data/      (n_deleted, deleted_len, id_sum)

Everything under ``deletes/`` is a DERIVED VIEW of the cumulative deleted
doc-id set, recomputed from (docs sidecar ∩ deleted ids) on every apply —
so applying the same deletes twice is a no-op (same fingerprint → the
staged commit skips), and a crashed apply re-runs losslessly under the
same ``run_stage`` manifest contract as the index build itself. Cost is
O(total deleted docs), distributed; heavy churn is reclaimed by
``compact_index`` (the Lucene-merge analogue that physically drops dead
postings and resets the tombstone set).

Where Lucene keeps STALE corpus stats until a merge (df/N include deleted
docs), this layout stores exact deltas, so a reader scores BM25 over the
post-delete corpus exactly — value-checkable against a DuckDB oracle
computed on the live corpus, which Lucene itself could not pass.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import varbyte_decode, varbyte_encode
from ..functions.tokenizer import tokenize_col
from .checkpoint import content_hash, run_stage
from .index_build import DL_MASK
from .index_stats import read_stats

DELETE_SEG_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("deleted", T.BinaryType(), False),
        T.StructField("n_deleted", T.IntegerType(), False),
    ]
)


def encode_id_set(ids: np.ndarray) -> bytes:
    """Sorted unique int64 ids → varbyte blob (absolute first, gap-1)."""
    ids = np.unique(ids.astype(np.int64))
    gaps = np.empty_like(ids)
    gaps[0] = ids[0]
    gaps[1:] = np.diff(ids) - 1
    return varbyte_encode(gaps)


def decode_id_set(blob: bytes) -> np.ndarray:
    gaps = varbyte_decode(blob).astype(np.int64)
    gaps[1:] += 1
    return np.cumsum(gaps)


def _encode_seg(pdf: pd.DataFrame) -> pd.DataFrame:
    seg = int(pdf["segment_id"].iloc[0])
    ids = pdf["doc_id"].to_numpy()
    return pd.DataFrame(
        [(seg, encode_id_set(ids), len(np.unique(ids)))],
        columns=["segment_id", "deleted", "n_deleted"],
    )


def has_deletes(index_dir: str | Path) -> bool:
    return (Path(index_dir) / "deletes" / "stats" / "data").exists()


def delete_stats(index_dir: str | Path) -> dict:
    """Driver-local read of the 1-row deletes stats (no Spark job)."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(
        str(Path(index_dir) / "deletes" / "stats" / "data"), format="parquet"
    ).to_table()
    row = tbl.to_pylist()[0]
    return {
        "n_deleted": int(row["n_deleted"]),
        "deleted_len": int(row["deleted_len"]),
        "id_sum": int(row["id_sum"]),
    }


def apply_deletes(
    spark: SparkSession, index_dir: str, doc_ids: DataFrame | list[int]
) -> dict:
    """Tombstone ``doc_ids`` in the index at ``index_dir``.

    Idempotent: the cumulative deleted set is fingerprinted and the whole
    ``deletes/`` sidecar commits atomically via the stage-manifest
    contract — re-applying the same ids (or replaying a crashed apply)
    converges to the same state. Unknown ids are ignored (a delete for a
    doc the index never held is a no-op, matching ES ignore-conflict)."""
    d = Path(index_dir)
    if isinstance(doc_ids, list):
        doc_ids = spark.createDataFrame(
            [(int(i),) for i in doc_ids], "doc_id long"
        )
    docs = spark.read.parquet(str(d / "docs/data"))
    new_ids = doc_ids.select(F.col("doc_id").cast("long")).join(
        docs.select("doc_id"), "doc_id", "left_semi"
    )
    if has_deletes(d):
        old_ids = spark.read.parquet(str(d / "deletes/doc_ids/data"))
        new_ids = new_ids.unionByName(old_ids)
    # pin the cumulative set OUTSIDE the staged commit: run_stage removes
    # the old deletes/ dir before the stage body runs, so the old ids must
    # not be read lazily from the directory being replaced
    all_ids = new_ids.distinct().localCheckpoint(eager=True)
    # fingerprint of the cumulative set: count + min/max + order-insensitive
    # hash-sum (each hash bounded to 2^20 so the int64 sum can never
    # overflow an ANSI-mode aggregate even at 10^12 deletes)
    agg = all_ids.agg(
        F.count("*").alias("n"),
        F.coalesce(F.min("doc_id"), F.lit(-1)).alias("lo"),
        F.coalesce(F.max("doc_id"), F.lit(-1)).alias("hi"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("doc_id"), F.lit(1 << 20))), F.lit(0)
        ).alias("id_hash"),
    ).collect()[0]
    fp = content_hash(
        {"n": int(agg["n"]), "lo": int(agg["lo"]), "hi": int(agg["hi"]),
         "id_hash": int(agg["id_hash"]), "v": 1}
    )

    st = read_stats(d)
    dps, profile = st.docs_per_segment, st.profile

    def stage(tmp: str) -> dict:
        all_ids.write.mode("overwrite").parquet(tmp + "/doc_ids/data")
        dele = docs.join(all_ids, "doc_id", "left_semi")
        (
            all_ids.select(
                (F.col("doc_id") / dps).cast("long").alias("segment_id"),
                "doc_id",
            )
            .groupBy("segment_id")
            .applyInPandas(_encode_seg, DELETE_SEG_SCHEMA)
            .write.mode("overwrite")
            .parquet(tmp + "/segments/data")
        )
        B = st.term_buckets
        (
            dele.select(
                F.explode(
                    F.array_distinct(tokenize_col("text", profile))
                ).alias("term")
            )
            .groupBy("term")
            .agg(F.count("*").alias("df_delta"))
            .withColumn(
                "term_bucket", F.pmod(F.xxhash64("term"), F.lit(B)).cast("int")
            )
            .repartition("term_bucket")
            .sortWithinPartitions("term")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(tmp + "/term_df/data")
        )
        # cap doc_len exactly as index_build packs it into the doclens
        # sidecar (least(doc_len, DL_MASK)): the reader's delete-adjusted
        # avgdl subtracts deleted_len from a total built on CAPPED lengths,
        # so both sides of the subtraction must use the same cap
        sd = dele.agg(
            F.count("*").alias("n_deleted"),
            F.coalesce(
                F.sum(F.least(F.col("doc_len"), F.lit(DL_MASK))), F.lit(0)
            ).alias("deleted_len"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("doc_id"), F.lit(1 << 20))), F.lit(0)
            ).alias("id_sum"),
        )
        sd.coalesce(1).write.mode("overwrite").parquet(tmp + "/stats/data")
        return {}

    return run_stage("deletes", d / "deletes", fp, stage)


def union_delete_sidecars(
    spark: SparkSession, base: Path, delta: Path, out_tmp: str
) -> None:
    """Merge-time carry: deletes union as pure metadata (doc-id and
    segment-id ranges of the two sides are disjoint by the merge
    contract), exactly like the doclens/postings unions — no recompute."""
    sides = [p for p in (base, delta) if has_deletes(p)]

    def rd(name: str) -> DataFrame:
        dfs = [
            spark.read.parquet(str(p / "deletes" / name / "data"))
            for p in sides
        ]
        out = dfs[0]
        for x in dfs[1:]:
            out = out.unionByName(x)
        return out

    rd("doc_ids").write.mode("overwrite").parquet(out_tmp + "/doc_ids/data")
    rd("segments").write.mode("overwrite").parquet(out_tmp + "/segments/data")
    (
        rd("term_df")
        .groupBy("term_bucket", "term")
        .agg(F.sum("df_delta").alias("df_delta"))
        .repartition("term_bucket")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(out_tmp + "/term_df/data")
    )
    (
        rd("stats")
        .agg(
            F.sum("n_deleted").alias("n_deleted"),
            F.sum("deleted_len").alias("deleted_len"),
            F.sum("id_sum").alias("id_sum"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(out_tmp + "/stats/data")
    )


def upsert_index(
    spark: SparkSession,
    live_index_dir: str,
    work_dir: str,
    new_docs: DataFrame,
    batch_tag: object,
    **builder_kwargs,
) -> str:
    """Document UPSERT through the inverted index — the full engine
    analogue of the reference's create→update→ignore-conflict loop
    (artifacts.py:513-550): docs whose ``url`` already exists in the live
    index are tombstoned, the new versions build as a delta at the next
    disjoint doc-id offset, and the merged index (old + delta + union'd
    tombstones) replaces ``live`` with one atomic pointer commit
    (plans/live_pointer.py — a single-object JSON repoint, the same
    catalog-pointer primitive that works on object storage; legacy
    symlink layouts still resolve). Readers between repoints always see a
    complete committed index; after the repoint, the stale postings are
    invisible to every query path and BM25 stats are exact over the
    post-upsert corpus.

    Returns the resolved path of the new live index."""
    from .index_build import IndexBuilder
    from .live_pointer import commit_live_pointer, resolve_live
    from .segments import merge_indexes, next_doc_id_offset

    live = Path(live_index_dir)
    work = Path(work_dir)
    work.mkdir(parents=True, exist_ok=True)

    current = resolve_live(live)
    if current is None:
        first = work / f"upsert_{batch_tag}"
        IndexBuilder(spark, str(first), **builder_kwargs).build(
            new_docs, fingerprint_extra={"upsert": str(batch_tag)}
        )
        commit_live_pointer(live, first)
        return str(first.resolve())

    merged = work / f"upsert_{batch_tag}"
    if current == str(merged.resolve()):
        return str(merged.resolve())  # replay of an already-applied batch

    base = Path(current)
    old_ids = (
        spark.read.parquet(str(base / "docs/data"))
        .join(new_docs.select("url").distinct(), "url", "left_semi")
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    off = next_doc_id_offset(str(base))
    delta = work / f"upsert_delta_{batch_tag}"
    # the delta takes the base's layout unless the caller overrides it:
    # a merge rejects any other
    kw = {**read_stats(base).layout(), **builder_kwargs}
    IndexBuilder(spark, str(delta), doc_id_offset=off, **kw).build(
        new_docs, fingerprint_extra={"upsert": str(batch_tag)}
    )
    merge_indexes(spark, str(base), str(delta), str(merged))
    apply_deletes(spark, str(merged), old_ids)
    commit_live_pointer(live, merged)
    return str(merged.resolve())


def compact_index(
    spark: SparkSession, index_dir: str, out_dir: str, **builder_kwargs
) -> dict:
    """Physically drop dead postings: rebuild the index over the live
    (non-tombstoned) docs, keeping their doc_ids (sparse ids are valid —
    the doclens sidecar densifies per segment). The Lucene-merge
    analogue: after compaction the tombstone set is empty and query-time
    delete filtering costs nothing again."""
    from .index_build import IndexBuilder

    d = Path(index_dir)
    docs = spark.read.parquet(str(d / "docs/data"))
    if has_deletes(d):
        dele = spark.read.parquet(str(d / "deletes/doc_ids/data"))
        docs = docs.join(dele, "doc_id", "left_anti")
    kw = {**read_stats(d).layout(), **builder_kwargs}
    return IndexBuilder(spark, out_dir, id_col="doc_id", **kw).build(
        docs, fingerprint_extra={"compact_of": str(d)}
    )
