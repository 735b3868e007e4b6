"""Incremental ingest — the Kafka poll loop (S1, artifacts.py:338-401)
re-expressed as Structured Streaming + idempotent merge.

The reference consumes at-least-once (auto-commit kafka.json) and gets
effective exactly-once from doc-id upsert idempotency (S4). Same model
here: a file-source stream (stand-in for Kafka in this sandbox; swap
``readStream.parquet`` for ``readStream.format('kafka')`` on a real bus)
feeds ``foreachBatch`` → compiled ingest pipeline → ``merge_upsert`` into a
snapshot table. Replayed batches re-merge the same keys — idempotent, no
stateful operators, no watermarks (the reference has none either:
SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..operators.ingest import IngestPipeline
from ..sources.catalog import SnapshotTable


def stream_ingest(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    pipeline: IngestPipeline,
    table: SnapshotTable,
    key: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Run the ingest stream; with available_now=True processes all pending
    input then stops (incremental batch — the engine's default mode)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def handle_batch(batch_df, batch_id: int):
        processed = pipeline.apply(batch_df)
        if processed.isEmpty():
            return
        table.merge_upsert(processed, key)

    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def stream_index(
    spark: SparkSession,
    input_dir: str,
    schema: T.StructType,
    live_index_dir: str,
    work_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    upsert: bool = False,
    compaction_policy=None,
    **builder_kwargs,
):
    """Continuous INDEXING: the stream's micro-batches become delta
    indexes merged into the live index — the full engine analogue of the
    reference's consume→index loop (artifacts.py:338-401), end to end.

    Each batch: build a delta index at the next disjoint doc-id offset
    (fingerprinted on batch_id, so a replayed batch resumes its own
    checkpoints instead of double-indexing — the same idempotency the
    reference gets from doc-id upsert), merge into ``live``, and atomically
    repoint the ``live`` pointer (plans/live_pointer.py — a single-object
    JSON commit that also works on object storage). Readers opening the
    index between batches always see a complete committed index.

    ``compaction_policy``: a ``plans.compaction.CompactionPolicy`` —
    after each committed batch the policy's metadata triggers are
    evaluated (delete ratio / segment fill / bound scale) and, when due,
    the live docs rebuild into a fresh generation and the pointer
    repoints — Lucene's background-merge role, on the SAME idempotent
    footing as the batches (a replayed compaction tag checkpoint-resumes).
    ``None`` (default) never compacts.

    ``upsert=True`` is the reference's ACTUAL consumer semantics
    (artifacts.py:513-550: create → update → ignore-conflict, keyed by
    doc id/url): a batch re-delivering an already-indexed url TOMBSTONES
    the stale version before the merged index goes live, so queries only
    ever see the latest version of each url. Append-only mode
    (``upsert=False``, the default) skips the url lookup — right for
    immutable streams where the check is a wasted join.

    Returns the streaming query; the current index path is
    ``{live_index_dir}`` (a pointer file under the hood — ``IndexReader``
    resolves it transparently).
    """
    import os
    from pathlib import Path

    from ..plans.index_build import IndexBuilder
    from ..plans.index_stats import read_stats
    from ..plans.live_pointer import commit_live_pointer, resolve_live
    from ..plans.segments import merge_indexes, next_doc_id_offset
    from ..plans.tombstones import upsert_index

    live = Path(live_index_dir)
    work = Path(work_dir)
    work.mkdir(parents=True, exist_ok=True)

    def maybe_compact_after(batch_id: int) -> None:
        if compaction_policy is None:
            return
        from ..plans.compaction import maybe_compact

        # deterministic tag per triggering batch → a replayed compaction
        # checkpoint-resumes its build instead of forking a new generation
        maybe_compact(
            spark, str(live), str(work), compaction_policy,
            tag=f"b{batch_id}",
        )

    def handle_batch(batch_df, batch_id: int):
        if upsert:
            if batch_df.isEmpty():
                return
            # upsert_index carries its own crash-replay guard (the batch
            # dir already backing the live pointer) and checkpoint-resumes
            # its delta build/merge/tombstone stages
            upsert_index(
                spark, str(live), str(work), batch_df, f"b{batch_id}",
                **builder_kwargs,
            )
            maybe_compact_after(batch_id)
            return
        delta = work / f"batch_{batch_id}"
        merged = work / f"merged_{batch_id}"
        # crash-replay guard: a crash BETWEEN the live-pointer commit and
        # the streaming checkpoint commit replays this batch with its
        # output already live; recomputing the offset from the live index
        # would re-merge the docs under new ids. If this batch's own
        # output dir already backs the pointer, the batch fully applied —
        # nothing to do.
        current = resolve_live(live)
        if current in (str(delta.resolve()), str(merged.resolve())):
            return
        if batch_df.isEmpty():
            return
        if current is None:
            # first batch bootstraps the index
            IndexBuilder(spark, str(delta), **builder_kwargs).build(
                batch_df, fingerprint_extra={"batch": batch_id}
            )
            commit_live_pointer(live, delta)
            return
        # the delta offset is a PER-BATCH durable record, never recomputed
        # from the live index (which may already contain a crashed merge of
        # this very batch): first encounter pins it, replays reuse it — so
        # the delta fingerprint is stable and its build checkpoint-resumes
        off_file = work / f"batch_{batch_id}.offset"
        if off_file.exists():
            off = int(off_file.read_text())
        else:
            off = next_doc_id_offset(current)
            tmpf = work / f".batch_{batch_id}.offset.tmp"
            tmpf.write_text(str(off))
            os.replace(tmpf, off_file)
        # the delta takes the live index's layout unless the caller
        # overrides it: a merge rejects any other
        kw = {**read_stats(current).layout(), **builder_kwargs}
        IndexBuilder(spark, str(delta), doc_id_offset=off, **kw).build(
            batch_df, fingerprint_extra={"batch": batch_id}
        )
        merge_indexes(spark, current, str(delta), str(merged))
        commit_live_pointer(live, merged)  # atomic repoint
        maybe_compact_after(batch_id)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_dir)
    writer = (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
