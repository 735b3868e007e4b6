"""BM25 top-k retrieval (X7-X10) over the segmented inverted index.

Replaces the reference's delegated ``es.search`` term/match queries
(/root/reference/consumer/tests/test__index_handler.py:176-196).

Execution model (scales to 1000 executors):
1. query → terms via the *same* tokenizer as the build;
2. tiny pruned reads: term_stats filtered to the query terms (directory
   pruning on term_bucket + row-group min/max on term) → delete-adjusted
   df map; stats → N, avgdl — driver-side pyarrow, a few KB and zero Spark
   jobs regardless of corpus size;
3. postings rows for (term ∈ query), same pruning, grouped per segment and
   scored by ``_score_segment``: a vectorized **block-max MaxScore**
   pruner (same dynamic-pruning family as WAND — Turtle & Flood 1995;
   Ding & Suel BMW 2011): terms are processed by descending max
   contribution; once the remaining terms' upper bounds can't lift a new
   doc past the running k-th score, only already-seen candidates are
   scored, and block-max metadata skips decoding blocks with no candidate
   overlap. Pruning is exact — surviving scores are identical to
   exhaustive evaluation;
4. per-segment bounded top-k (min-heap semantics via np.argpartition) →
   global merge by (score desc, doc_id asc) over n_segments·k tiny rows.

Step 3 runs on one of two sides, chosen per query by Σdf of the query
terms (known after step 2, before any posting is read):
- **driver side** (Σdf ≤ ``_DRIVER_SCORE_MAX_DF``): one pyarrow read of
  the pruned postings, scored in-process and the merged top-k handed
  back as a local relation — zero Spark jobs. Any Spark plan costs a
  scheduling and python-worker round-trip (~0.2 s even for one tiny
  task), which is most of a small query's latency;
- **Spark side** (larger reads): the pruned postings scan fans out
  across the cluster, one exchange groups rows by segment (its width
  from Σdf), and each task scores its segments in a ``mapInArrow`` step
  — no join, the same plan with and without tombstones.
Both sides hand their postings to the same ``_score_segments`` as an
Arrow table, with the query's df map: ``_segment_runs`` orders the rows
into (segment, term) runs with one lexsort, ``_sidecar_rows`` point-reads
those segments' sidecar rows (doclens lens blob plus the tombstone blob)
straight from the index files with pyarrow, and ``_score_segment`` runs
per segment on numpy column slices, with the same df, N, avgdl and
bounds — so they are rank-identical; only where the work runs differs.
Lens bytes never cross an exchange, a broadcast or a join. The
executor-side read assumes the index dir is a POSIX path visible to the
workers, as the driver-side reads already do.

The unscored posting operators (``match_docs``, ``term_freqs``,
``term_positions`` and the phrase/span verifier under ``phrase_docs``)
run on the Spark scorer's plan and data shape, built by
``IndexReader._per_segment``: the same pruned scan (``_postings_scan``),
one ``_by_segment`` exchange, then ``mapInArrow``. Each task cuts its
rows with the same ``_segment_runs``, hands each segment's runs to the
operator's set-algebra function and masks the segment's tombstoned ids
out of its output with the ``deleted`` blob of the scorer's point read
(``_deleted_blobs``) — no join, no sort, the same plan on clean and
tombstoned readers. Every site decodes through the same two column-fed
decoders, ``_decode_blocks_batch`` and ``_decode_positions_batch``. An
operator whose input yields no terms returns an empty local relation
that runs no Spark job (``_empty``). No pandas frame is built anywhere
in this module.

Determinism contract: per-term contributions accumulate in ascending-term
order in float64 and final scores round to 9 decimals — identical to the
oracle — so ranking is reproducible across parallelism levels.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import B as BM25_B
from .. import K1
from ..functions.bm25 import bm25_cols, idf_np
from ..functions.codec import varbyte_decode
from ..functions.tokenizer import tokenize_col, tokenize_py
from ..functions.xxhash import spark_pmod_bucket

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)
_DOC_IDS = T.StructType([T.StructField("doc_id", T.LongType(), False)])


def _decode_blocks_batch(rows) -> tuple[np.ndarray, np.ndarray]:
    """Decode MANY posting blocks in one shot → (doc_ids, tfs), block by
    block in row order. ``rows`` maps posting column names to per-block
    sequences (a run's numpy column slices); this reads
    ``first_doc_id``, ``count``, ``doc_deltas`` and ``tfs``.

    Per-block Python loops cost ~1 ms/block, which dominates latency for
    mid-frequency terms (thousands of blocks). Here the concatenated
    varbyte streams decode in one vectorized call each, and the per-block
    delta cumsum runs as a single 2D row-cumsum over a padded
    (n_blocks × max_count) matrix."""
    counts = np.asarray(rows["count"], dtype=np.int64)
    n = len(counts)
    vals = varbyte_decode(b"".join(rows["doc_deltas"])).astype(np.int64)
    tfs = varbyte_decode(b"".join(rows["tfs"])).astype(np.int64) + 1
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    width = int(counts.max())
    # scatter gap+1 values into a padded matrix, zero the first column,
    # row-cumsum, then add each block's absolute first doc id
    w = vals + 1
    w[starts] = 0
    blk = np.repeat(np.arange(n), counts)
    cols = np.arange(len(vals)) - starts[blk]
    mat = np.zeros((n, width), dtype=np.int64)
    mat[blk, cols] = w
    ids2d = np.cumsum(mat, axis=1) + np.asarray(
        rows["first_doc_id"], dtype=np.int64
    )[:, None]
    return ids2d[blk, cols], tfs


def _decode_positions_batch(rows, tfs: np.ndarray) -> np.ndarray:
    """Decode the ``positions`` blobs of the posting rows ``rows`` (same
    column input as ``_decode_blocks_batch``) → absolute within-doc token
    offsets, one per token, aligned with the (doc, tf) decode order of
    those rows. The stream restarts (absolute value) at every posting
    start, gap-1 deltas inside a posting — same padded-matrix row-cumsum
    trick as the doc-delta decode."""
    vals = varbyte_decode(b"".join(rows["positions"])).astype(np.int64)
    n = len(tfs)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    w = vals + 1
    w[starts] = vals[starts]
    post = np.repeat(np.arange(n), tfs)
    cols = np.arange(len(vals)) - starts[post]
    mat = np.zeros((n, int(tfs.max())), dtype=np.int64)
    mat[post, cols] = w
    return np.cumsum(mat, axis=1)[post, cols]


# phrase keys pack (doc_id, position) into one int64: doc_id << POS_BITS |
# pos. POS_BITS matches the scorer's DL_BITS doc-length cap (2^20 tokens);
# doc ids up to 2^43 fit alongside — the same envelope as the rest of the
# index layout.
POS_BITS = 20

# segment-exchange widths (see IndexReader._by_segment), capped there at
# the segment count and the cluster width: each task pays a fixed
# python-worker round-trip, so width follows work. The scorer takes one
# task per this many postings of the query terms (Σdf). search() reaches
# it only above _DRIVER_SCORE_MAX_DF, i.e. above 20 tasks, the cap on any
# cluster up to 20 wide; so the constant sizes the exhaustive scorers
# (score_matches, or_scores and their callers). Against the cap alone,
# in-session A/Bs of score_matches/or_scores at local[4] on 8 and 25
# segments measured 0.80× and 0.88× p50 below Σdf 100k, and 0.95× and
# 1.00× at 0.1-0.5M (CHANGES.md). The decode operators take one task per
# this many segments: on their mapInArrow plan, Σdf sizing (its term_dfs
# read included) measured 1.03× and 1.07× p50 below and above Σdf 100k on
# 8 segments, and 0.82× and 1.01× on 25 (match_docs/term_positions).
_DF_PER_SCORE_TASK = 100_000
_SEGMENTS_PER_DECODE_TASK = 8

# search() scores on the driver when the query terms' summed df is at or
# under this many postings, and plans the Spark scorer above it. From the
# driver-vs-Spark crossover scripts/topk_crossover.py measures (200k-doc
# webtext index, local[4] on a 4-vCPU VM, both sides scoring Arrow
# columns): the driver side is 0.2-0.3× the Spark side's p50 up to Σdf
# 200k, 0.45-0.66× at 0.2-1M, 0.78× at 1-2M, and 1.0-1.08× at 2-5M. The
# cap sits at the last band the driver still wins; re-derive it with that
# script on other hardware.
_DRIVER_SCORE_MAX_DF = 2_000_000

class MissingSidecarError(LookupError):
    """A matched doc_id has no doclens sidecar entry: its segment is absent
    from the sidecar, or the segment's lens array is too short for it."""


def _empty(spark: SparkSession, schema) -> DataFrame:
    """Zero-row frame of ``schema`` (a StructType or DDL string) whose
    collect runs no Spark job: ``createDataFrame([])`` alone goes through
    a parallelized RDD and costs one job, while the optimizer folds
    limit(0) over it to an empty local relation."""
    return spark.createDataFrame([], schema).limit(0)


def _no_hits() -> tuple[np.ndarray, np.ndarray]:
    return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)


def _take(cols: dict, idx: np.ndarray) -> dict:
    """The posting rows ``idx`` of a column-array dict (decoder input)."""
    return {c: v[idx] for c, v in cols.items()}


def _select_topk(
    cand: np.ndarray, scores: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """k best by (score desc, id asc) with exact tie handling at the k-th
    boundary: argpartition alone keeps an arbitrary subset of rows whose
    rounded scores tie at position k, which can drop the lowest-id member
    and break the determinism contract. Partition, then widen the cut to
    every row tied with the k-th score before the composite lexsort."""
    if len(cand) > k:
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        keep = scores >= kth
        cand, scores = cand[keep], scores[keep]
    order = np.lexsort((cand, -scores))
    return cand[order][:k], scores[order][:k]


def _score_segment(
    runs: list[tuple[str, int, dict]],
    sidecar: tuple | None,
    N: int,
    avgdl: float,
    k: int,
    k1: float = K1,
    b: float = BM25_B,
    bound_scale: float = 1.0,
    after: tuple[float, int] | None = None,
    per_term_round: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Score one segment's query-term posting rows → (doc_ids, scores).
    ``runs`` holds one ``(term, df, cols)`` run per query term present in
    the segment, in ascending term order: ``cols`` maps each of
    ``_RUN_COLS`` to that term's posting blocks as a numpy array in
    block_no order, fed to ``_decode_blocks_batch`` as is and block
    selections as index arrays. ``sidecar`` is the
    segment's ``(start_doc_id, lens, deleted)`` from ``_sidecar_rows``
    (``deleted`` None without tombstones), or None when the segment is
    missing from the sidecar (the segment then yields no hits).
    It arrives separately from the postings — joining it onto every
    posting row would replicate the multi-KB lens blob onto EVERY block
    row crossing the shuffle (measured ~40× the real posting payload for
    a stopword query). Vectorized block-max MaxScore.

    ``bound_scale``: stored max_impacts were computed against the BUILD
    avgdl; after a segment merge the query avgdl can be larger, growing
    true impacts past the stored bound. Scaling bounds by
    max(1, avgdl/build_avgdl) (the worst-case impact ratio, reached as
    dl→∞) keeps pruning exact. Bounds only — never scores.

    Tombstones: when the segment carries a ``deleted`` blob (see
    plans/tombstones.py), dead docs are masked right after each block
    decode — they never become candidates, never enter the threshold, and
    never surface. Stored block bounds stay valid upper bounds (masking
    only removes candidates); N/avgdl/df arrive already delete-adjusted
    from the reader, so surviving scores are exactly the live-corpus
    BM25.

    ``per_term_round``: round each term's contribution to 9 dp BEFORE
    accumulating (the or_scores / query-string clause ladder —
    round(Σ round(s_t, 9), 9)); default keeps the flagship ladder
    (raw accumulation, one final round).  Identical for single-term
    queries (round is idempotent at 9 dp).

    ``after``: ES search_after cursor ``(score, doc_id)`` — keep only
    docs strictly after the cursor in (score desc, doc_id asc) order.
    Pruning is DISABLED when a cursor is set: the thresholds are fed by
    partial sums of docs that may land BEFORE the cursor, and a
    threshold inflated by an excluded doc could prune a legitimate
    page-2 hit. Deep paging therefore evaluates the query terms'
    postings exhaustively — the same cost profile as Lucene's
    searchAfter — and stays exact."""
    if not runs or sidecar is None:
        return _no_hits()
    start, lens_blob, deleted = sidecar
    lens_arr = varbyte_decode(lens_blob).astype(np.float64)
    n_docs = len(lens_arr)
    alive = None
    if deleted:
        from ..plans.tombstones import decode_id_set

        alive = np.ones(n_docs, dtype=bool)
        dpos = decode_id_set(bytes(deleted)) - start
        alive[dpos[(dpos >= 0) & (dpos < n_docs)]] = False

    # per term: its idf, σ bound, block columns and scaled block bounds
    terms = []
    for t, df, cols in runs:
        bound = cols["max_impact"].astype(np.float64) * bound_scale
        idf = float(idf_np(N, float(df)))
        terms.append((t, idf, idf * bound.max(), cols, bound))

    # single-term fast path: impact-ordered block traversal with exact
    # early termination (Lucene-style impact iterator) — process blocks by
    # descending max_impact; once the k-th best exact score exceeds
    # idf·max_impact of every remaining block, no remaining posting can
    # enter the top-k. Dominates head-term ("the") p99 latency.
    if len(terms) == 1:
        _, idf, _sigma, cols, bound = terms[0]
        ordered = np.argsort(-bound, kind="stable")
        pos_parts, sc_parts = [], []
        kth = -np.inf
        n_cand = 0
        best = np.empty(0, dtype=np.float64)  # rolling top-k score pool
        CHUNK = 256  # blocks per batch decode: amortizes numpy call costs
        for cs in range(0, len(ordered), CHUNK):
            chunk = ordered[cs : cs + CHUNK]
            # 1e-9 margin: scores are rounded to 9 decimals before ranking,
            # so a skipped posting must be strictly below kth even after
            # rounding, or it could displace the k-th by doc_id tie-break
            if (
                after is None
                and n_cand >= k
                and idf * bound[chunk[0]] < kth - 1e-9
            ):
                break
            ids, tfs_ = _decode_blocks_batch(_take(cols, chunk))
            pos = ids - start
            if alive is not None:
                m = alive[pos]
                pos, tfs_ = pos[m], tfs_[m]
                if not len(pos):
                    continue
            tf = tfs_.astype(np.float64)
            dl = lens_arr[pos]
            sc = idf * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))
            pos_parts.append(pos)
            sc_parts.append(sc)
            n_cand += len(pos)
            best = np.concatenate([best, sc])
            if len(best) > max(4 * k, 1024):
                best = best[np.argpartition(-best, k - 1)[:k]]
            if len(best) >= k:
                kth = float(np.partition(best, -k)[-k])
        if not pos_parts:
            return _no_hits()
        cand = np.concatenate(pos_parts)
        scores = np.round(np.concatenate(sc_parts), 9)
        if after is not None:
            keep = (scores < after[0]) | (
                (scores == after[0]) & ((cand + start) > after[1])
            )
            cand, scores = cand[keep], scores[keep]
        cand, scores = _select_topk(cand, scores, k)
        return (cand + start).astype(np.int64), scores

    # accumulator over the segment's dense doc range; acc_run tracks
    # partial sums in σ-processing order purely to tighten the pruning
    # threshold (final output re-accumulates in term-asc order for the
    # determinism contract) — partial sums of nonnegative contributions
    # are a valid lower bound of the final k-th score
    acc = np.zeros(n_docs, dtype=np.float64)
    acc_run = np.zeros(n_docs, dtype=np.float64)
    seen = np.zeros(n_docs, dtype=bool)
    threshold = -np.inf

    def score_blocks(blks, idf):
        ids, tfs = _decode_blocks_batch(blks)
        pos = ids - start
        if alive is not None:
            m = alive[pos]
            pos, tfs = pos[m], tfs[m]
        tf = tfs.astype(np.float64)
        dl = lens_arr[pos]
        impact = tf / (tf + k1 * (1.0 - b + b * dl / avgdl))
        return pos, idf * impact

    # MaxScore: descending sigma for pruning power; contributions are
    # collected per term, then *applied in ascending-term order* so the
    # float64 accumulation order matches the oracle exactly.
    by_sigma = sorted(terms, key=lambda x: -x[2])
    remaining = sum(t[2] for t in by_sigma)
    contribs: list[tuple[str, np.ndarray, np.ndarray]] = []
    for t, idf, sigma, cols, _bound in by_sigma:
        # 1e-9 margin mirrors the single-term path: a doc may only be
        # treated as non-viable when its upper bound clears the running
        # k-th score even after the 9-decimal ranking round
        or_phase = remaining >= threshold - 1e-9 or not np.isfinite(threshold)
        remaining -= sigma
        if or_phase:
            todo = cols
        else:
            # AND phase: only docs already seen can still make top-k —
            # block-range skipping before any decode happens: a block is
            # kept when its [first, last] doc range holds a seen doc
            n_seen = np.concatenate(([0], np.cumsum(seen)))
            lo = np.clip(cols["first_doc_id"] - start, 0, n_docs)
            hi = np.clip(cols["last_doc_id"] - start + 1, 0, n_docs)
            todo = _take(cols, np.flatnonzero(n_seen[hi] > n_seen[lo]))
        if not len(todo["count"]):
            continue
        p, s = score_blocks(todo, idf)
        if per_term_round:
            # the clause ladder pre-rounds each term's contribution; the
            # σ bounds stay valid (rounding moves a score by ≤5e-10,
            # inside the 1e-9 pruning margin used everywhere)
            s = np.round(s, 9)
        if not or_phase:
            m = seen[p]
            p, s = p[m], s[m]
        if len(p):
            seen[p] = True
            contribs.append((t, p, s))
            # tighten θ from the exact partial sums accumulated so far
            acc_run[p] += s
            cand_now = np.flatnonzero(seen)
            if after is None and len(cand_now) >= k:
                threshold = float(
                    np.partition(acc_run[cand_now], -k)[-k]
                )

    if not contribs:
        return _no_hits()
    for t, p, s in sorted(contribs, key=lambda c: c[0]):
        acc[p] += s
    cand = np.flatnonzero(seen)
    scores = np.round(acc[cand], 9)
    if after is not None:
        keep = (scores < after[0]) | (
            (scores == after[0]) & ((cand + start) > after[1])
        )
        cand, scores = cand[keep], scores[keep]
    cand, scores = _select_topk(cand, scores, k)
    return (cand + start).astype(np.int64), scores


# the posting columns the scorer and the decode operators read (the
# positions blob only when an operator asks for it)
_SCORE_COLS = [
    "segment_id", "term", "block_no", "first_doc_id", "last_doc_id",
    "count", "max_impact", "doc_deltas", "tfs",
]
# the per-block columns of one (segment, term) run handed to _score_segment
_RUN_COLS = _SCORE_COLS[3:]


def _deleted_blobs(deletes, segment_ids) -> dict[int, bytes]:
    """Point read of the given segments' tombstone blobs from the reader's
    ``deletes/segments/data`` dataset → {segment_id: deleted}; a segment
    without tombstones has no entry. Datasets pickle with their file
    listing, so executors read the files the reader listed."""
    filt = ds.field("segment_id").isin(np.asarray(segment_ids, np.int64))
    d = deletes.to_table(columns=["segment_id", "deleted"], filter=filt)
    return dict(zip(d["segment_id"].to_pylist(), d["deleted"].to_pylist()))


def _sidecar_rows(doclens, deletes, segment_ids) -> dict[int, tuple]:
    """Point read of the given segments' sidecar rows from the reader's
    ``doclens/data`` dataset → {segment_id: (start_doc_id, lens, deleted)}:
    ``deleted`` is the segment's ``_deleted_blobs`` entry, None without
    one or without a ``deletes`` dataset. A segment missing from the
    doclens files has no entry."""
    filt = ds.field("segment_id").isin(np.asarray(segment_ids, np.int64))
    side = doclens.to_table(
        columns=["segment_id", "start_doc_id", "lens"], filter=filt
    ).to_pydict()
    dele = {} if deletes is None else _deleted_blobs(deletes, segment_ids)
    return {
        sid: (start, lens, dele.get(sid))
        for sid, start, lens in zip(
            side["segment_id"], side["start_doc_id"], side["lens"]
        )
    }


def _segment_runs(post: pa.Table, cols: list[str]):
    """The one run-cut of the scorer and every decode operator: pruned
    posting rows in any order and batching → ``(segment_id, runs)`` per
    segment, ascending; ``runs`` = one ``(term, cols)`` per term,
    ascending, ``cols`` = the ``cols`` columns of that term's blocks as
    numpy slices in block_no order. ``term`` is dictionary encoded and
    ranked once; one lexsort over (segment_id, term rank, block_no)."""
    if not post.num_rows:
        return
    enc = post["term"].combine_chunks().dictionary_encode()
    names = enc.dictionary.to_pylist()
    words = sorted(names)
    rank = {w: i for i, w in enumerate(words)}
    tr = np.array([rank[w] for w in names])[enc.indices.to_numpy()]
    seg = post["segment_id"].to_numpy()
    order = np.lexsort((post["block_no"].to_numpy(), tr, seg))
    seg, tr = seg[order], tr[order]
    arrs = {c: post[c].to_numpy()[order] for c in cols}
    n = len(order)
    starts = np.flatnonzero(
        np.concatenate(([True], (seg[1:] != seg[:-1]) | (tr[1:] != tr[:-1])))
    )
    ends = np.append(starts[1:], n)
    runs = []
    for s, e in zip(starts, ends):
        runs.append((words[tr[s]], {c: v[s:e] for c, v in arrs.items()}))
        if e == n or seg[e] != seg[s]:  # the segment's last run
            yield int(seg[s]), runs
            runs = []


def _score_segments(
    post: pa.Table,
    doclens,
    deletes,
    N: int,
    avgdl: float,
    k: int,
    dfs: dict[str, int],
    bound_scale: float = 1.0,
    after: tuple[float, int] | None = None,
    per_term_round: bool = False,
) -> tuple[np.ndarray, np.ndarray]:
    """Score the pruned posting rows (the ``_SCORE_COLS``, in any row
    order) of any number of segments, with the query's delete-adjusted
    ``dfs``: one ``_sidecar_rows`` point read for all of them, then
    ``_score_segment`` per segment on the ``_segment_runs`` cut, each run
    with its df → every segment's (doc_ids, scores), concatenated. Both
    sides of ``IndexReader`` score through here — the driver in-process,
    the Spark side once per task — so a segment missing from the sidecar
    yields no hits on either."""
    if not post.num_rows:
        return _no_hits()
    side = _sidecar_rows(
        doclens, deletes, np.unique(post["segment_id"].to_numpy())
    )
    ids, scores = zip(*(
        _score_segment(
            [(t, dfs[t], cols) for t, cols in runs], side.get(seg), N,
            avgdl, k, bound_scale=bound_scale, after=after,
            per_term_round=per_term_round,
        )
        for seg, runs in _segment_runs(post, _RUN_COLS)
    ))
    return np.concatenate(ids), np.concatenate(scores)


def _decode_task(fn, schema: T.StructType, deletes, positions: bool):
    """The per-task function of every unscored posting operator (see
    ``IndexReader._per_segment``): pruned posting batches in any order →
    one record batch of ``schema`` per segment, holding ``fn(runs)``
    (None: no rows). With a ``deletes`` dataset each segment's output
    loses the ids of its ``_deleted_blobs`` entry."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..plans.tombstones import decode_id_set

    out_schema = to_arrow_schema(schema)
    cols = _RUN_COLS + ["positions"] if positions else _RUN_COLS

    def task(it):
        batches = list(it)
        if not batches:
            return
        post = pa.Table.from_batches(batches)
        dead = {} if deletes is None else _deleted_blobs(
            deletes, np.unique(post["segment_id"].to_numpy())
        )
        for seg, runs in _segment_runs(post, cols):
            out = fn(runs)
            if out is None:
                continue
            batch = pa.record_batch(out, schema=out_schema)
            if seg in dead:
                dead_ids = decode_id_set(bytes(dead[seg]))
                batch = batch.filter(~np.isin(out["doc_id"], dead_ids))
            yield batch

    return task


def _doc_lens(doclens, ids: np.ndarray, dps: int) -> np.ndarray:
    """Doc lengths of ``ids`` from their segments' doclens rows (the same
    ``_sidecar_rows`` point read as the scorer). A doc's segment is
    doc_id // docs_per_segment, the assignment the build, merges and
    tombstones all use. A doc whose segment has no row, or that falls
    outside its segment's lens array, raises ``MissingSidecarError``
    instead of reading a neighbour's lengths."""
    seg = ids // dps
    rows = _sidecar_rows(doclens, None, np.unique(seg))
    out = np.empty(len(ids), dtype=np.int64)
    for s in np.unique(seg):
        mask = seg == s
        if int(s) not in rows:
            raise MissingSidecarError(
                f"doc_id {int(ids[mask][0])}: segment {int(s)} has no "
                "doclens sidecar row"
            )
        start, blob, _ = rows[int(s)]
        arr = varbyte_decode(blob).astype(np.int64)
        off = ids[mask] - start
        bad = (off < 0) | (off >= len(arr))
        if bad.any():
            raise MissingSidecarError(
                f"doc_id {int(ids[mask][bad][0])} is outside segment "
                f"{int(s)}'s {len(arr)} doclens entries"
            )
        out[mask] = arr[off]
    return out


class IndexReader:
    """Reads the on-disk index layout written by plans.index_build.

    Latency design: opening a reader and answering a small search run no
    Spark job. Term buckets are computed driver-side with a bit-exact
    Python xxhash64; stats, per-term df (with tombstone deltas) and, for
    queries whose summed df is at or under ``_DRIVER_SCORE_MAX_DF``, the
    pruned postings and their sidecar rows are pyarrow reads scored on
    the driver (see the module docstring). Larger queries plan the Spark
    scorer: one exchange, the df map in the scoring closure, and each
    task point-reading its own segments' sidecar rows — the same plan on
    clean and tombstoned readers.

    Every Spark-side posting read starts from ``_postings_scan`` (the
    pruning predicate lives there and, for pyarrow, in ``_term_filter``);
    the unscored operators all plan through ``_per_segment``, the
    scorer's plan (scan → exchange → ``mapInArrow``) with each segment's
    tombstoned ids masked in-task, as the scorer masks them. The Spark
    source DataFrames and the pyarrow dataset handles are built on first
    use and kept per reader, so file listings are reused across
    queries."""

    def __init__(self, spark: SparkSession, index_dir: str):
        from ..plans.index_stats import live_stats, read_stats
        from ..plans.live_pointer import resolve_live

        self.spark = spark
        # a live-pointer file (or legacy symlink) resolves to the current
        # committed index dir at open time — the catalog-pointer pattern,
        # so a concurrent upsert's repoint never shifts an open reader
        self.dir = Path(resolve_live(index_dir) or index_dir)
        # per-reader caches: pyarrow dataset handles and Spark source
        # frames by sub-directory, each built on first use
        self._pa_cache: dict = {}
        self._frames: dict[str, DataFrame] = {}
        st = read_stats(self.dir)
        self.term_buckets = st.term_buckets
        self.dps = st.docs_per_segment
        self.profile = st.profile
        self.positions = st.positions
        # N/avgdl exact over the LIVE corpus (df adjusts per query term
        # from the term_df delta sidecar), so scoring matches an index
        # built over the post-delete corpus — stricter than Lucene, which
        # serves stale stats until a merge; bound_scale: see _score_segment
        live = live_stats(self.dir, st, lambda: self._pa("doclens/data"))
        self.N, self.avgdl, self.bound_scale = live.N, live.avgdl, live.bound_scale
        self.has_deletes = live.n_deleted > 0

    def _pa(self, sub: str):
        """pyarrow dataset over an index sub-directory (hive partitions
        become columns), listed once per reader."""
        if sub not in self._pa_cache:
            self._pa_cache[sub] = ds.dataset(
                str(self.dir / sub), format="parquet", partitioning="hive"
            )
        return self._pa_cache[sub]

    def _frame(self, sub: str) -> DataFrame:
        """Spark source DataFrame over an index sub-directory, built on
        first use: ``spark.read.parquet`` runs a schema-inference job, so
        the reader pays it only for the Spark plans it actually runs."""
        if sub not in self._frames:
            self._frames[sub] = self.spark.read.parquet(str(self.dir / sub))
        return self._frames[sub]

    @property
    def _postings(self) -> DataFrame:
        return self._frame("postings/data")

    @property
    def _term_stats(self) -> DataFrame:
        return self._frame("term_stats/data")

    @property
    def _n_segments(self) -> int:
        return max(1, -(-self.N // self.dps))

    def _by_segment(self, postings: DataFrame, tasks: int) -> DataFrame:
        """Pin the per-segment exchange at the caller's ``tasks``, capped
        at the segment count and the cluster width: AQE's byte-based
        coalescing folds the few-MB pruned posting shuffles to a single
        partition, serializing every per-segment step. An explicit
        repartition on segment_id is exempt from AQE coalescing, and a
        groupBy on the same key reuses it (no second exchange).
        Execution width only, values unchanged."""
        dop = self.spark.sparkContext.defaultParallelism
        width = max(1, min(dop, self._n_segments, tasks))
        return postings.repartition(width, "segment_id")

    def _buckets_for(self, terms: list[str]) -> dict[str, int]:
        # driver-side, bit-exact with F.pmod(F.xxhash64(term), B)
        return {t: spark_pmod_bucket(t, self.term_buckets) for t in terms}

    @property
    def _deletes(self):
        """Tombstone blobs' dataset on a tombstoned reader, else None."""
        return self._pa("deletes/segments/data") if self.has_deletes else None

    def _sidecars(self):
        """The ``_sidecar_rows`` datasets: doclens and ``_deletes``."""
        return self._pa("doclens/data"), self._deletes

    def _term_filter(self, terms: list[str]):
        """pyarrow filter mirroring the Spark scans' pushdown: term_bucket
        partition pruning plus the row-group min/max term predicate."""
        buckets = sorted(set(self._buckets_for(terms).values()))
        return ds.field("term_bucket").isin(buckets) & ds.field("term").isin(terms)

    def _postings_scan(self, terms: list[str], positions: bool = False) -> DataFrame:
        """The pruned postings scan of every Spark-side posting read, the
        twin of ``_term_filter``: term_bucket partition pruning plus the
        pushed term predicate (row-group min/max on the term-sorted
        files), reading the ``_SCORE_COLS`` and, when asked, the
        positions blob."""
        buckets = sorted(set(self._buckets_for(terms).values()))
        cols = _SCORE_COLS + ["positions"] if positions else _SCORE_COLS
        return self._postings.where(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        ).select(*cols)

    def _per_segment(
        self, terms: list[str], fn, schema, positions: bool = False
    ) -> DataFrame:
        """The one plan of every unscored posting operator, the Spark
        scorer's: the pruned scan of ``terms`` → one ``_by_segment``
        exchange → ``mapInArrow(_decode_task)``, no join and no sort, with
        or without tombstones. ``fn`` gets one segment's ``(term, cols)``
        runs (a doc's postings for every term live in one segment, so set
        algebra never crosses segments), decodes them through
        ``_decode_blocks_batch`` / ``_decode_positions_batch`` and returns
        a dict of ``schema``'s columns as arrays, or None. Memory: a task
        holds its segments' encoded posting rows, as the scorer's does,
        and decodes one segment at a time, each leaving as its own record
        batch, so decoded positions never exceed one segment's. No terms
        → an empty frame that runs no Spark job."""
        if not terms:
            return _empty(self.spark, schema)
        task = _decode_task(fn, schema, self._deletes, positions)
        return self._by_segment(
            self._postings_scan(terms, positions),
            -(-self._n_segments // _SEGMENTS_PER_DECODE_TASK),
        ).mapInArrow(task, schema)

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Per-term global df, delete-adjusted on tombstoned readers.
        Driver-side pyarrow reads of the pruned term_stats buckets and,
        with tombstones, of the term_df delta sidecar (directory pruning on
        term_bucket, row-group min/max pruning on term — files are
        term-sorted) — a few KB and zero Spark jobs regardless of corpus
        size."""
        if not terms:
            return {}
        filt = self._term_filter(terms)
        tbl = self._pa("term_stats/data").to_table(
            columns=["term", "df"], filter=filt
        )
        dfs = dict(zip(tbl["term"].to_pylist(), tbl["df"].to_pylist()))
        if self.has_deletes:
            deltas = self._pa("deletes/term_df/data")
            # a delete set whose docs held no terms writes no partitions
            if "term_bucket" in deltas.schema.names:
                tbl = deltas.to_table(columns=["term", "df_delta"], filter=filt)
                for t, d in zip(
                    tbl["term"].to_pylist(), tbl["df_delta"].to_pylist()
                ):
                    if t in dfs:
                        dfs[t] -= d
        return dfs

    def _driver_topk(
        self,
        terms: list[str],
        dfs: dict[str, int],
        k: int,
        after: tuple[float, int] | None,
    ) -> DataFrame:
        """The driver side of ``search``: one pyarrow read of the pruned
        postings, scored in-process by ``_score_segments``, then the
        per-segment top-k merged by (score desc, doc_id asc). The result
        is a local relation built from an Arrow table: collecting it runs
        no Spark job."""
        post = self._pa("postings/data").to_table(
            columns=_SCORE_COLS, filter=self._term_filter(terms)
        )
        ids, scores = _select_topk(*_score_segments(
            post, *self._sidecars(), self.N, self.avgdl, k, dfs,
            bound_scale=self.bound_scale, after=after,
        ), k)
        if not len(ids):
            return _empty(self.spark, TOPK_SCHEMA)
        return self.spark.createDataFrame(
            pa.table({"doc_id": ids, "score": scores}), TOPK_SCHEMA
        )

    def _scored_per_segment(
        self,
        terms: list[str],
        k: int,
        after: tuple[float, int] | None,
        per_term_round: bool = False,
        dfs: dict[str, int] | None = None,
    ) -> DataFrame:
        """The Spark scoring plan: pruned posting read (the ``_SCORE_COLS``)
        → one ``_by_segment`` exchange → ``_score_segments`` over each
        task's Arrow batches (``mapInArrow``), with the delete-adjusted df
        map in the closure. Each task point-reads its own segments'
        sidecar rows, so the plan is scan → exchange → score on clean and
        tombstoned readers alike: no join, no broadcast. No global
        sort/limit — callers add their own cut (top-k, cursor page, or
        none for exhaustive scoring). ``dfs``: the query's ``term_dfs``,
        when the caller already has it."""
        if dfs is None:
            dfs = self.term_dfs(terms)
        doclens, deletes = self._sidecars()
        N, avgdl, bscale = self.N, self.avgdl, self.bound_scale

        def score(it):
            batches = list(it)
            if batches:
                ids, scores = _score_segments(
                    pa.Table.from_batches(batches), doclens, deletes, N,
                    avgdl, k, dfs, bound_scale=bscale, after=after,
                    per_term_round=per_term_round,
                )
                yield pa.record_batch({"doc_id": ids, "score": scores})

        return self._by_segment(
            self._postings_scan(terms), -(-sum(dfs.values()) // _DF_PER_SCORE_TASK)
        ).mapInArrow(score, TOPK_SCHEMA)

    def search(
        self,
        query: str,
        k: int = 10,
        after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Top-k BM25 → DataFrame(doc_id, score) globally ordered.

        ``after``: ES search_after cursor — the (score, doc_id) of the
        previous page's last hit; returns the next k docs strictly after
        it in (score desc, doc_id asc) order. Cursor paging disables
        block-max pruning (see ``_score_segment``) but never re-returns
        or skips a doc, ES-exact.

        Runs on the driver side when the query terms' summed df is at or
        under ``_DRIVER_SCORE_MAX_DF`` (zero Spark jobs), else as the Spark
        plan; both sides are rank-identical (module docstring)."""
        terms = sorted(set(tokenize_py(query, self.profile)))
        if not terms or k < 1:
            return _empty(self.spark, TOPK_SCHEMA)
        dfs = self.term_dfs(terms)
        if sum(dfs.values()) <= _DRIVER_SCORE_MAX_DF:
            return self._driver_topk(terms, dfs, k, after)
        per_seg = self._scored_per_segment(terms, k, after, dfs=dfs)
        return per_seg.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_after(
        self, query: str, after_score: float, after_doc_id: int, k: int = 10
    ) -> DataFrame:
        """ES ``search_after`` deep pagination: the page following the hit
        ``(after_score, after_doc_id)``. Because scores round to 9 dp and
        ties break on doc_id, (score desc, doc_id asc) is a TOTAL order —
        page N+1 via cursor equals rows [N·k, (N+1)·k) of the full
        ranking, with per-page cost independent of page depth (no
        offset-k re-materialization on the driver)."""
        return self.search(query, k=k, after=(float(after_score), int(after_doc_id)))

    def score_matches(self, query: str) -> DataFrame:
        """BM25 scores for EVERY matching doc (no top-k cut) →
        DataFrame(doc_id, score). The primitive under field collapse and
        export-style scans; per-segment evaluation is exhaustive by
        construction (k=∞ means the pruning threshold never arms)."""
        terms = sorted(set(tokenize_py(query, self.profile)))
        if not terms:
            return _empty(self.spark, TOPK_SCHEMA)
        return self._scored_per_segment(terms, 1 << 62, None)

    def collapse_top_hits(
        self, query: str, keys: DataFrame, key_col: str, k_per_key: int = 1
    ) -> DataFrame:
        """ES field collapse: the best ``k_per_key`` hits per distinct
        ``key_col`` value → (key, doc_id, score). ``keys`` maps doc_id →
        key (typically the docs sidecar). Scores every match once
        (``score_matches``), joins the key, then takes per-key leaders.

        k_per_key=1 (the common ES collapse) runs as max(struct(score,
        −doc_id)) — a hash aggregate with map-side partial combine, so a
        LOW-cardinality collapse key (a handful of langs over 10^12 rows)
        never funnels a key's whole match set through one window task.
        k_per_key>1 falls back to the key-partitioned window (fine when
        keys are plentiful; inherently per-key-serial when they aren't)."""
        scored = self.score_matches(query).join(
            keys.select("doc_id", key_col), "doc_id"
        )
        if k_per_key == 1:
            # struct ordering = (score asc, -doc_id asc): max() picks the
            # highest score, then the LOWEST doc_id — the exact tie-break
            agg = scored.groupBy(key_col).agg(
                F.max(
                    F.struct(
                        F.col("score"), (-F.col("doc_id")).alias("_nid")
                    )
                ).alias("_m")
            )
            return agg.select(
                key_col,
                (-F.col("_m._nid")).alias("doc_id"),
                F.col("_m.score").alias("score"),
            )
        from pyspark.sql import Window

        w = Window.partitionBy(key_col).orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k_per_key)
            .drop("_rn")
        )

    def _doc_terms(self, doc_id: int) -> Counter:
        """Analyzed term counts of one indexed doc (tombstoned docs
        included): a pyarrow point read of the doc_id-sorted ``docs/data``
        files (row-group min/max pruning on doc_id), no Spark job. An id
        the index never held raises ``ValueError``."""
        tbl = self._pa("docs/data").to_table(
            columns=["text"], filter=ds.field("doc_id") == doc_id
        )
        if not tbl.num_rows:
            raise ValueError(f"doc_id {doc_id} not in index")
        return Counter(tokenize_py(tbl["text"][0].as_py(), self.profile))

    def _top_tfidf(self, tf: dict[str, int], n: int) -> list[str]:
        """The ``n`` terms of ``tf`` with the highest tf·idf (idf from the
        live index stats): 6-dp round, then term-asc tie-break, so a SQL
        oracle reproduces the selection."""
        dfs = self.term_dfs(sorted(tf))
        ranked = sorted(
            (-round(c * float(idf_np(self.N, dfs.get(t, 0))), 6), t)
            for t, c in tf.items()
        )
        return [t for _, t in ranked[:n]]

    def more_like_this(
        self,
        doc_id: int,
        max_query_terms: int = 10,
        k: int = 10,
        min_term_len: int = 1,
    ) -> DataFrame:
        """ES ``more_like_this`` (single liked doc): select the doc's
        ``max_query_terms`` most characteristic terms by tf·idf (idf from
        the live index stats; 6-dp round then term-asc tie-break, so the
        selection is reproducible by a SQL oracle), then BM25-search their
        OR and drop the seed doc. The seed text is ONE pyarrow point read
        off the docs sidecar (``_doc_terms``); the tf·idf ranking
        (``_top_tfidf``) is driver-side arithmetic over ≤ a few hundred
        (term, df) rows."""
        tf = self._doc_terms(doc_id)
        terms = self._top_tfidf(
            {t: c for t, c in tf.items() if len(t) >= min_term_len},
            max_query_terms,
        )
        if not terms:
            return _empty(self.spark, TOPK_SCHEMA)
        hits = self.search(" ".join(terms), k=k + 1)
        return (
            hits.where(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def match_docs(self, query: str, mode: str = "and") -> DataFrame:
        """Unscored boolean term query (X7/X10) straight off the postings:
        doc ids containing ALL (``mode="and"``) or ANY (``mode="or"``) of
        the analyzed query terms — no tokenize-the-corpus scan, no scoring.

        Runs through ``_per_segment`` (the same pruned read as ``search``);
        the per-segment step intersects or unions the terms' decoded doc
        ids."""
        if mode not in ("and", "or"):
            raise ValueError(f"mode must be 'and' or 'or', got {mode!r}")
        terms = sorted(set(tokenize_py(query, self.profile)))
        n_terms = len(terms)
        conj = mode == "and"

        def collect_ids(runs):
            # AND: a segment missing any query term can't satisfy the
            # conjunction — check BEFORE decoding the terms it does have
            if conj and len(runs) < n_terms:
                return None
            per_term = [_decode_blocks_batch(cols)[0] for _, cols in runs]
            if conj:
                acc = per_term[0]
                for ids in per_term[1:]:
                    acc = np.intersect1d(acc, ids, assume_unique=True)
            else:
                acc = np.unique(np.concatenate(per_term))
            return {"doc_id": acc}

        return self._per_segment(terms, collect_ids, _DOC_IDS)

    def expand_prefix(self, prefix: str, max_terms: int = 1024) -> list[str]:
        """ES prefix-query term expansion off the term dictionary: the
        term_stats sidecar is tiny relative to postings (one row per term)
        and sorted by term within each bucket file, so the LIKE scan is a
        metadata read, never a corpus scan. ``max_terms`` mirrors ES's
        ``index.max_terms_count`` rewrite guard."""
        return self._expand(
            self._term_stats.where(F.col("term").startswith(prefix)),
            max_terms,
            f"prefix {prefix!r} expands to more than {max_terms} terms "
            "(raise max_terms, or use a longer prefix)",
        )

    def _expand(
        self, terms: DataFrame, max_terms: int, guard: str
    ) -> list[str]:
        """The sorted dictionary terms of a term-expansion frame, with the
        rewrite guard: more than ``max_terms`` raises ``ValueError(guard)``
        (reading at most one term past the cap)."""
        rows = terms.select("term").limit(max_terms + 1).collect()
        if len(rows) > max_terms:
            raise ValueError(guard)
        return sorted(r["term"] for r in rows)

    def _docs_for_terms(self, terms: list[str]) -> DataFrame:
        """Docs holding any of the dictionary ``terms`` (a multi-term
        expansion) — the pruned OR posting union of ``match_docs``."""
        return self.match_docs(" ".join(terms), "or")

    def term_freqs(self, terms: list[str]) -> DataFrame:
        """(doc_id, term, tf) triples off one pruned postings pass
        (``_per_segment``); feeds cross-field pseudo-frequency scoring
        (combined_fields/BM25F), where tf must BLEND across fields before
        normalization instead of scoring per-field, and
        minimum_should_match clause counting in ``bool_docs``."""
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("term", T.StringType(), False),
                T.StructField("tf", T.LongType(), False),
            ]
        )

        def collect_tfs(runs):
            names, ids, tfs = zip(
                *((t, *_decode_blocks_batch(cols)) for t, cols in runs)
            )
            return {
                "doc_id": np.concatenate(ids),
                "term": np.repeat(
                    np.array(names, dtype=object), [len(i) for i in ids]
                ),
                "tf": np.concatenate(tfs),
            }

        return self._per_segment(sorted(set(terms)), collect_tfs, out_schema)

    def bool_docs(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        minimum_should_match: int = 0,
    ) -> DataFrame:
        """ES bool query in FILTER context: docs matching every ``must``
        term, at least one ``should`` term (which becomes required when no
        ``must`` is given — ES minimum_should_match default), and none of
        the ``must_not`` terms. ``minimum_should_match`` > 0 requires that
        many DISTINCT should clauses to match (a clause that analyzes to
        several terms counts once when any of them matches), whether or
        not ``must`` is present — exactly ES's parameter. Composed from
        the pruned posting reads; set algebra stays in Catalyst
        (left_semi / left_anti joins on doc_id, broadcast-sized by
        construction); clause counting is ONE pruned (doc_id, term)
        pass (``term_freqs``) + a count aggregate, never per-clause
        scans."""
        must, should, must_not = must or [], should or [], must_not or []
        msm = minimum_should_match
        if msm > len(should):
            return _empty(self.spark, _DOC_IDS)
        base = None
        if must:
            base = self.match_docs(" ".join(must), "and")
        if should and (msm > 1 or (msm >= 1 and base is not None)):
            # explicit clause-count threshold: one (doc_id, term) pass,
            # map term → clause index, count distinct matched clauses
            clause_of = {}
            for i, clause in enumerate(should):
                for t in tokenize_py(clause, self.profile):
                    clause_of.setdefault(t, i)
            pairs = self.term_freqs(list(clause_of)).select("doc_id", "term")
            clause_col = F.create_map(
                *[F.lit(x) for kv in clause_of.items() for x in kv]
            )[F.col("term")]
            s_docs = (
                pairs.select("doc_id", clause_col.alias("_clause"))
                .groupBy("doc_id")
                .agg(F.countDistinct("_clause").alias("_n"))
                .where(F.col("_n") >= msm)
                .select("doc_id")
            )
            base = (
                s_docs
                if base is None
                else base.join(s_docs, "doc_id", "left_semi")
            )
        elif should and base is None:
            # should only boosts scoring in ES when must exists; in filter
            # context it adds nothing there — must stays the filter
            base = self.match_docs(" ".join(should), "or")
        if base is None:
            return _empty(self.spark, _DOC_IDS)
        if must_not:
            n_docs = self.match_docs(" ".join(must_not), "or")
            base = base.join(n_docs, "doc_id", "left_anti")
        return base

    def ensure_fuzzy_sidecar(self, max_edits: int = 2) -> dict:
        """Build (idempotently) the deletion-neighborhood sidecar so
        fuzzy/suggest expansion reads a pruned dictionary subset instead
        of Levenshtein-scanning the whole vocabulary — see
        plans/fuzzy_index.py for the construction and guarantee."""
        from ..plans.fuzzy_index import build_fuzzy_sidecar

        out = build_fuzzy_sidecar(self.spark, self.dir, max_edits=max_edits)
        self._fuzzy_meta_cache = None  # reload on next use
        return out

    _fuzzy_meta_cache: dict | None = None

    def _fuzzy_meta(self) -> dict | None:
        if self._fuzzy_meta_cache is None:
            from ..plans.fuzzy_index import fuzzy_meta

            self._fuzzy_meta_cache = fuzzy_meta(self.dir) or {}
        return self._fuzzy_meta_cache or None

    def _fuzzy_candidates(self, term: str, max_edits: int) -> DataFrame:
        """Dictionary terms within ``max_edits`` of the needle →
        DataFrame(term). Uses the deletion-neighborhood sidecar when one
        covering ``max_edits`` exists: the scan touches ONLY the
        vbucket directories of the needle's own deletion variants
        (directory pruning) plus a variant isin pushdown (row-group
        pruning), then re-checks candidates with exact JVM Levenshtein —
        bit-identical results to the full-dictionary fallback scan."""
        t = F.lit(term)
        exact = (
            (F.abs(F.length("term") - F.length(t)) <= max_edits)
            & (F.levenshtein(F.col("term"), t) <= max_edits)
        )
        meta = self._fuzzy_meta()
        if meta and meta["max_edits"] >= max_edits:
            from ..plans.fuzzy_index import delete_variants_py

            qv = sorted(delete_variants_py(term, max_edits))
            vb = sorted(
                {spark_pmod_bucket(v, meta["variant_buckets"]) for v in qv}
            )
            base = self.dir / "fuzzy/variants/data"
            # explicit partition-subset listing (the ANN-index pattern):
            # only the needle's vbucket dirs are even LISTED — at web
            # vocabulary a full directory listing is itself a scan
            paths = [
                p for b in vb if (p := base / f"vbucket={b}").exists()
            ]
            if not paths:
                return _empty(self.spark, "term string")
            return (
                self.spark.read.option("basePath", str(base))
                .parquet(*[str(p) for p in paths])
                .where(F.col("variant").isin(qv))
                .select("term")
                .distinct()
                .where(exact)
            )
        return self._term_stats.where(exact).select("term")

    def suggest_terms(
        self, term: str, size: int = 3, max_edits: int = 1
    ) -> DataFrame:
        """ES term suggester: correction candidates for a (likely
        misspelled) term — dictionary terms within ``max_edits``, ranked
        the ES way (higher document frequency first, then term); the
        input term itself is excluded. Candidates come from the banded
        deletion-neighborhood read when the sidecar exists (see
        ``_fuzzy_candidates``); df ranking joins off the bucket-pruned
        term_stats sidecar either way. Ranking uses the BUILD-time df
        (not delete-adjusted) — suggestion frequencies go stale under
        tombstones exactly like Lucene's until a compact, which is the
        behavior ES users see; retrieval through ``fuzzy_docs`` still
        strips deleted docs exactly."""
        meta = self._fuzzy_meta()
        if meta and meta["max_edits"] >= max_edits:
            cands = [
                r["term"]
                for r in self._fuzzy_candidates(term, max_edits)
                .where(F.col("term") != term)
                .collect()
            ]
            if not cands:
                return _empty(self.spark, "term string, df long")
            buckets = self._buckets_for(cands)
            return (
                self._term_stats.where(
                    F.col("term_bucket").isin(sorted(set(buckets.values())))
                    & F.col("term").isin(cands)
                )
                .select("term", "df")
                .orderBy(F.desc("df"), F.asc("term"))
                .limit(size)
            )
        t = F.lit(term)
        return (
            self._term_stats.where(
                (F.abs(F.length("term") - F.length(t)) <= max_edits)
                & (F.col("term") != term)
                & (F.levenshtein(F.col("term"), t) <= max_edits)
            )
            .select("term", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(size)
        )

    def suggest_phrase(self, text: str, max_edits: int = 1) -> DataFrame:
        """ES ``phrase`` suggester, simplified: correct a multi-word
        input token-by-token — a token present in the dictionary stays;
        an absent one is replaced by its best correction (highest df
        within ``max_edits``, then term asc — the term-suggester rule),
        or kept verbatim when nothing is within reach. → one row
        (input, suggestion). Documented deviation: ES re-ranks whole
        candidate phrases with a bigram language model (Stupid Backoff);
        the per-token independence here is the deterministic,
        oracle-replayable core of that feature. Candidate lookups ride
        the banded deletion-neighborhood sidecar when present."""
        toks = tokenize_py(text, self.profile)
        dfs = self.term_dfs(sorted(set(toks)))
        out = []
        for t in toks:
            if dfs.get(t, 0) > 0:
                out.append(t)
                continue
            best = self.suggest_terms(t, size=1, max_edits=max_edits).collect()
            out.append(best[0]["term"] if best else t)
        return self.spark.createDataFrame(
            [(text, " ".join(out))], "input string, suggestion string"
        )

    def expand_fuzzy(
        self, term: str, max_edits: int = 1, max_terms: int = 1024
    ) -> list[str]:
        """ES fuzzy-query term expansion: dictionary terms within
        ``max_edits`` Levenshtein of the needle — a banded
        deletion-neighborhood read when the sidecar exists, else a
        length-window-prefiltered Levenshtein scan of the term
        dictionary (see ``_fuzzy_candidates``)."""
        return self._expand(
            self._fuzzy_candidates(term, max_edits),
            max_terms,
            f"fuzzy {term!r} expands past {max_terms} terms",
        )

    def fuzzy_docs(self, term: str, max_edits: int = 1,
                   max_terms: int = 1024) -> DataFrame:
        """Docs containing any dictionary term within ``max_edits`` of the
        needle — expansion + the pruned OR posting union."""
        return self._docs_for_terms(self.expand_fuzzy(term, max_edits, max_terms))

    def expand_wildcard(self, pattern: str, max_terms: int = 1024) -> list[str]:
        """ES wildcard-query term expansion: ``*`` = any run, ``?`` = one
        char, translated to a SQL LIKE over the term dictionary."""
        like = (
            pattern.replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
            .replace("*", "%").replace("?", "_")
        )
        return self._expand(
            self._term_stats.where(F.col("term").like(like)),
            max_terms,
            f"wildcard {pattern!r} expands past {max_terms} terms",
        )

    def wildcard_docs(self, pattern: str, max_terms: int = 1024) -> DataFrame:
        return self._docs_for_terms(self.expand_wildcard(pattern, max_terms))

    def expand_regex(self, pattern: str, max_terms: int = 1024) -> list[str]:
        """ES regexp-query term expansion: dictionary terms FULL-matching
        the pattern (ES anchors regexps implicitly; the JVM RLIKE is a
        search, so the pattern wraps in ^(?:…)$). Same metadata-sized
        dictionary scan + rewrite guard as wildcard expansion. Dialect
        note: the registered oracle uses DuckDB regexp_full_match — stick
        to the POSIX-common subset (classes, dots, quantifiers,
        alternation) that Java and RE2 agree on."""
        return self._expand(
            self._term_stats.where(F.col("term").rlike(f"^(?:{pattern})$")),
            max_terms,
            f"regexp {pattern!r} expands past {max_terms} terms",
        )

    def regexp_docs(self, pattern: str, max_terms: int = 1024) -> DataFrame:
        """Docs containing any dictionary term full-matching ``pattern``
        — expansion + the pruned OR posting union (ES regexp query)."""
        return self._docs_for_terms(self.expand_regex(pattern, max_terms))

    def span_first_docs(self, term: str, end: int) -> DataFrame:
        """ES ``span_first`` query: docs whose FIRST ``end`` token
        positions contain the term (title-ish matching without a title
        field) — the positional read filtered on min position, pure
        Catalyst over the pruned per-term positions."""
        toks = tokenize_py(term, self.profile)
        if len(toks) != 1:
            raise ValueError("span_first takes exactly one analyzed term")
        return (
            self.term_positions(toks[0])
            .where(F.array_min("positions") < end)  # positions are 0-based
            .select("doc_id")
        )

    def terms_lookup_docs(self, doc_id: int, max_terms: int = 64) -> DataFrame:
        """ES ``terms`` lookup query: filter terms come from ANOTHER
        document (ES fetches the lookup doc's field values, then runs a
        terms filter). Here: the lookup doc's ``max_terms``
        highest-tf·idf terms (the more_like_this selection rule) OR'd
        through the pruned posting union — the seed doc itself stays in
        the result (unlike more_like_this, which is a ranking API and
        drops it)."""
        return self._docs_for_terms(
            self._top_tfidf(self._doc_terms(doc_id), max_terms)
        )

    def rare_terms(self, max_doc_count: int, size: int = 10) -> DataFrame:
        """ES ``rare_terms`` aggregation over the analyzed text field:
        terms whose document frequency is ≤ ``max_doc_count``, rarest
        first (df asc, term asc) — a metadata read off the term_stats
        sidecar, never a corpus scan (ES itself needs a special agg
        because ordering terms ASCENDING by count is the pathological
        case for its top-N heaps; the dictionary sidecar makes it a
        filter)."""
        return (
            self._term_stats.where(F.col("df") <= max_doc_count)
            .select("term", "df")
            .orderBy(F.asc("df"), F.asc("term"))
            .limit(size)
        )

    def prefix_docs(self, prefix: str, max_terms: int = 1024) -> DataFrame:
        """Docs containing ANY term with the given prefix: dictionary
        expansion + the same pruned OR posting union as ``match_docs``."""
        return self._docs_for_terms(self.expand_prefix(prefix, max_terms))

    def query_string_docs(self, q: str) -> DataFrame:
        """Execute a Lucene query-language string (the reference's saved
        searches carry these — visualization.py:46-53) in FILTER context:
        → DataFrame(doc_id). The parse tree maps 1:1 onto the existing
        primitives (term/phrase/prefix/fuzzy/wildcard posting reads), and
        the boolean algebra runs as Catalyst semi/anti joins, so a parsed
        query has exactly the plan its hand-written ``bool_docs``
        equivalent would. Analyzer contract: every text atom re-analyzes
        through the index's tokenizer profile; an atom that analyzes to
        several terms ORs them (Lucene's default_operator=OR); an atom the
        analyzer drops entirely (punctuation-only) is discarded like
        Lucene's analyzer-dropped clauses."""
        from ..functions.querystring import parse_query_string

        return self._eval_qs(parse_query_string(q))

    def percolate(self, queries: dict) -> DataFrame:
        """ES percolator, batch form: which saved searches match which
        docs → (query_id, doc_id). The reference's actual workload — its
        dashboards carry saved Lucene query strings
        (visualization.py:46-53) that are re-evaluated over the corpus.
        Each query's filter is the usual pruned-read Catalyst plan; the
        union is one job. (ES's percolator inverts the problem to match
        ONE doc against many stored queries — for the streaming analogue,
        run this over the micro-batch's delta index.)"""
        from functools import reduce

        parts = [
            self.query_string_docs(q).select(
                F.lit(qid).alias("query_id"), "doc_id"
            )
            for qid, q in sorted(queries.items())
        ]
        if not parts:
            return _empty(self.spark, "query_id string, doc_id long")
        return reduce(DataFrame.unionByName, parts)

    def query_string_search(self, q: str, k: int = 10) -> DataFrame:
        """SCORED query-string execution (ES query_string returns ranked
        hits, not just a filter): docs passing the boolean filter, ranked
        by the sum of the positive clauses' scores → (doc_id, score).

        Clause scoring follows ES's defaults: term clauses score BM25
        (OR-sum when one atom analyzes to several terms), phrase clauses
        score match_phrase BM25, and multi-term expansions
        (prefix/wildcard/fuzzy) contribute constant_score 1.0 per
        matching clause (ES's constant_score rewrite). must_not clauses
        filter but never score. Every component pre-rounds to 9 dp and
        the sum re-rounds, so a SQL oracle reproduces the ranking
        bit-for-bit."""
        from ..functions import querystring as qs

        node = qs.parse_query_string(q)
        filt = self._eval_qs(node)
        if filt is None:
            return _empty(self.spark, TOPK_SCHEMA)

        leaves: list = []

        def walk(n) -> None:
            if isinstance(n, qs.Bool):
                for m in n.must:
                    walk(m)
                for s in n.should:
                    walk(s)
                # must_not: filter-only, never scored
            else:
                leaves.append(n)

        walk(node)

        def boosted(df: DataFrame, boost: float) -> DataFrame:
            # Lucene boost = clause-score multiplier (scored context
            # only); re-round so the SQL oracle replays the exact ladder.
            # boost=1 keeps the unboosted plan byte-identical.
            if boost == 1.0:
                return df
            return df.select(
                "doc_id", F.round(F.col("score") * boost, 9).alias("score")
            )

        parts: list[DataFrame] = []
        for leaf in leaves:
            if isinstance(leaf, qs.Term):
                terms = tokenize_py(leaf.text, self.profile)
                if terms:
                    parts.append(
                        boosted(
                            self.score_matches(" ".join(terms)), leaf.boost
                        )
                    )
            elif isinstance(leaf, qs.Phrase):
                terms = tokenize_py(leaf.text, self.profile)
                if len(terms) == 1:
                    parts.append(
                        boosted(self.score_matches(terms[0]), leaf.boost)
                    )
                elif terms:
                    parts.append(
                        boosted(
                            self.phrase_scores(
                                " ".join(terms), slop=leaf.slop
                            ),
                            leaf.boost,
                        )
                    )
            else:
                docs = self._eval_qs(leaf)
                if docs is not None:
                    # multi-term expansions rewrite to constant_score —
                    # the boost IS the constant (ES behavior)
                    parts.append(
                        docs.select(
                            "doc_id", F.lit(float(leaf.boost)).alias("score")
                        )
                    )
        if not parts:
            return _empty(self.spark, TOPK_SCHEMA)
        from functools import reduce

        allparts = reduce(DataFrame.unionByName, parts)
        scored = (
            allparts.groupBy("doc_id")
            .agg(F.round(F.sum("score"), 9).alias("score"))
            .join(filt, "doc_id", "left_semi")
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def or_scores(self, query: str) -> DataFrame:
        """UNCUT OR scoring: every doc matching ANY analyzed query term,
        scored as the sum of its 9-dp-rounded per-term BM25 scores,
        re-rounded — the clause ladder ``query_string_search`` uses for
        should groups, exposed as the primitive under the compound scored
        queries (boosting, function_score, multi_match).

        ONE pruned pass: the segment kernel accumulates pre-rounded
        per-term contributions directly (``per_term_round=True``) — a doc
        lives in exactly one segment, so no cross-frame merge exists and
        the T-term query costs one posting read instead of T unioned
        single-term jobs (the round-5 change; the previous per-term
        union/groupBy plan computed the identical ladder values)."""
        terms = sorted(set(tokenize_py(query, self.profile)))
        if not terms:
            return _empty(self.spark, TOPK_SCHEMA)
        return self._scored_per_segment(
            terms, 1 << 62, None, per_term_round=True
        )

    def match_bool_prefix(self, text: str, k: int = 10) -> DataFrame:
        """ES ``match_bool_prefix`` (the non-phrase autocomplete): the
        input's terms become bool SHOULD clauses and the LAST term a
        prefix clause — docs matching any clause, ranked by summed term
        BM25 plus the prefix expansion's constant_score. Exactly the
        query-string ``t1 t2 last*`` under this engine's documented
        rewrite rules, so it routes through ``query_string_search``
        (same plan, same ladder)."""
        toks = tokenize_py(text, self.profile)
        if not toks:
            return _empty(self.spark, TOPK_SCHEMA)
        q = " ".join(toks[:-1] + [toks[-1] + "*"])
        return self.query_string_search(q, k=k)

    def dis_max_search(
        self,
        clauses: list[str],
        tie_breaker: float = 0.0,
        k: int = 10,
    ) -> DataFrame:
        """ES ``dis_max``: rank by the BEST-matching clause instead of the
        sum — score = max(clause scores) + tie_breaker · Σ(other clause
        scores), the classic fix for multi-field/multi-phrasing queries
        where summing rewards redundancy. Each clause scores through the
        uncut OR ladder; max/sum fold in ONE hash aggregate over the
        unioned per-clause scores (no window, no self-join); 9-dp
        rounding ladder as everywhere."""
        from functools import reduce

        parts = [
            self.or_scores(c).select("doc_id", "score")
            for c in clauses
            if tokenize_py(c, self.profile)
        ]
        if not parts:
            return _empty(self.spark, TOPK_SCHEMA)
        allparts = reduce(DataFrame.unionByName, parts)
        scored = (
            allparts.groupBy("doc_id")
            .agg(
                F.max("score").alias("_mx"),
                F.sum("score").alias("_sm"),
            )
            .select(
                "doc_id",
                F.round(
                    F.col("_mx")
                    + F.lit(float(tie_breaker)) * (F.col("_sm") - F.col("_mx")),
                    9,
                ).alias("score"),
            )
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def search_filtered(
        self, query: str, filter_docs: DataFrame, k: int = 10
    ) -> DataFrame:
        """ES bool {must: match, filter: …}: rank by text relevance but
        only over docs passing a structured (non-scoring) filter — the
        single most common ES query shape. Scoring uses the uncut OR
        ladder (``or_scores``); the filter attaches as a left-semi join
        (broadcast-sized when the filter is selective, AQE decides), so
        pruning assumptions never interact with the filter — exact under
        ANY filter, unlike threading a filter through block-max
        skipping."""
        scored = self.or_scores(query).join(
            filter_docs.select("doc_id"), "doc_id", "left_semi"
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def boosting_search(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.5,
        k: int = 10,
    ) -> DataFrame:
        """ES ``boosting`` query: rank by the positive query's score, but
        docs matching the negative query keep only ``negative_boost`` of
        it (demotion without exclusion — the query for \"relevant but
        probably not what you meant\"). score = round(positive_or_score ×
        (negative_boost if doc ∈ negative else 1), 9); the negative doc
        set is the usual pruned filter read, attached as a left-semi-style
        marker join, so no doc scores twice and nothing re-scans."""
        pos = self.or_scores(positive)
        neg = self.match_docs(negative, "or").withColumn(
            "_neg", F.lit(True)
        )
        scored = (
            pos.join(neg, "doc_id", "left")
            .select(
                "doc_id",
                F.round(
                    F.col("score")
                    * F.when(F.col("_neg"), F.lit(float(negative_boost)))
                    .otherwise(F.lit(1.0)),
                    9,
                ).alias("score"),
            )
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def function_score_search(
        self,
        query: str,
        factors: DataFrame,
        k: int = 10,
        missing: float = 1.0,
    ) -> DataFrame:
        """ES ``function_score`` (field_value_factor form): rank by
        text relevance × a per-doc numeric factor. ``factors`` is a
        (doc_id, factor) DataFrame — typically a column expression over
        the source table (e.g. sqrt(n_chars)); docs without a factor row
        use ``missing`` (ES's parameter of the same name). score =
        round(or_score × factor, 9). The factor side joins onto the
        match set only (the match set is the pruned posting read, usually
        the small side — AQE broadcasts it), never the whole corpus
        through the scorer."""
        pos = self.or_scores(query)
        scored = (
            pos.join(factors.select("doc_id", "factor"), "doc_id", "left")
            .select(
                "doc_id",
                F.round(
                    F.col("score")
                    * F.coalesce(F.col("factor"), F.lit(float(missing))),
                    9,
                ).alias("score"),
            )
        )
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _eval_qs(self, node) -> DataFrame | None:
        """AST → DataFrame(doc_id); None = clause vacuous after analysis."""
        from functools import reduce

        from ..functions import querystring as qs

        if isinstance(node, qs.Term):
            terms = tokenize_py(node.text, self.profile)
            if not terms:
                return None
            return self.match_docs(" ".join(terms), "or")
        if isinstance(node, qs.Phrase):
            terms = tokenize_py(node.text, self.profile)
            if not terms:
                return None
            if len(terms) == 1:
                return self.match_docs(terms[0], "and")
            return self.phrase_docs(" ".join(terms), slop=node.slop)
        if isinstance(node, qs.Prefix):
            return self.prefix_docs(node.text.lower())
        if isinstance(node, qs.Wildcard):
            return self.wildcard_docs(node.pattern.lower())
        if isinstance(node, qs.Fuzzy):
            terms = tokenize_py(node.term, self.profile)
            if len(terms) != 1:
                raise ValueError(
                    f"fuzzy needs a single analyzed term, got {node.term!r}"
                )
            return self.fuzzy_docs(terms[0], max_edits=node.max_edits)
        if isinstance(node, qs.Bool):
            must = [x for x in map(self._eval_qs, node.must) if x is not None]
            should = [
                x for x in map(self._eval_qs, node.should) if x is not None
            ]
            nots = [
                x for x in map(self._eval_qs, node.must_not) if x is not None
            ]
            if must:
                base = reduce(
                    lambda a, b: a.join(b, "doc_id", "left_semi"), must
                )
            elif should:
                base = reduce(DataFrame.unionByName, should).distinct()
            else:
                return _empty(self.spark, _DOC_IDS) if nots else None
            if nots:
                neg = reduce(DataFrame.unionByName, nots)
                base = base.join(neg, "doc_id", "left_anti")
            return base
        raise TypeError(f"unknown query node {node!r}")

    def search_phrase(self, phrase: str, k: int = 10, slop: int = 0) -> DataFrame:
        """SCORED phrase query (ES match_phrase, optional slop): candidates
        come from the positional verifier with their phrase frequency
        (number of valid start positions), then BM25 scores the phrase as
        if it were a term — tf = phrase freq, df = number of matching docs
        (see ``phrase_scores``). Like ``phrase_scores``, this runs Spark
        jobs at call time: the match set is checkpointed and counted
        eagerly, before the returned DataFrame is collected. Determinism
        contract as everywhere: float64, 9-dp round, (score desc, doc_id
        asc)."""
        scored = self.phrase_scores(phrase, slop=slop)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def phrase_scores(self, phrase: str, slop: int = 0) -> DataFrame:
        """BM25 phrase score for EVERY phrase-matching doc (the un-cut
        form of ``search_phrase``; also the rescore-query primitive).

        Eager at call time, for every reader: the match set (live docs
        only — ``phrase_docs`` strips tombstoned ids) is local-checkpointed
        and counted for the phrase df before this returns, so the
        positional decode runs once. Each task of the scoring step then
        point-reads its own docs' doclens rows (``_doc_lens``, the
        scorer's ``_sidecar_rows`` read) for doc_len; N and avgdl are the
        reader's live values. The checkpoint is not released when the
        result is dropped."""
        m = self.phrase_docs(phrase, with_freq=True, slop=slop).localCheckpoint(
            eager=True
        )
        df_val = int(m.count())
        doclens, dps = self._pa("doclens/data"), self.dps

        def attach_len(it):
            batches = list(it)
            if batches:
                tbl = pa.Table.from_batches(batches)
                lens = _doc_lens(doclens, tbl["doc_id"].to_numpy(), dps)
                tbl = tbl.append_column("doc_len", pa.array(lens))
                yield from tbl.to_batches()

        return m.mapInArrow(
            attach_len, "doc_id long, phrase_freq long, doc_len long"
        ).select(
            "doc_id",
            F.round(
                bm25_cols(
                    F.col("phrase_freq"),
                    F.lit(df_val),
                    F.col("doc_len"),
                    F.lit(self.N),
                    F.lit(self.avgdl),
                ),
                9,
            ).alias("score"),
        )

    def rescore_phrase(
        self,
        query: str,
        phrase: str,
        window: int = 50,
        k: int = 10,
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
    ) -> DataFrame:
        """ES ``rescore``: re-rank the top-``window`` BM25 hits by adding a
        weighted match_phrase score — the standard precision bump for
        phrase-ish queries without paying phrase verification on the whole
        match set. final = query_weight·bm25 + rescore_weight·phrase_bm25
        (0 for window docs without the exact phrase), rounded to 9 dp,
        (score desc, doc_id asc). The window cut uses the same total order
        as everything else, so membership is deterministic. The phrase
        side runs Spark jobs at call time: ``phrase_scores`` checkpoints
        and counts its match set eagerly."""
        base = self.search(query, k=window)
        ph = self.phrase_scores(phrase).withColumnRenamed("score", "_ph")
        combined = (
            base.join(ph, "doc_id", "left")
            .select(
                "doc_id",
                F.round(
                    F.col("score") * query_weight
                    + F.coalesce(F.col("_ph"), F.lit(0.0)) * rescore_weight,
                    9,
                ).alias("score"),
            )
        )
        return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def term_vectors(self, doc_id: int) -> DataFrame:
        """ES ``_termvectors``: per-term within-doc tf + corpus df for one
        doc → (term, tf, df) ordered by term. The doc text is ONE pruned
        sidecar row; dfs come from the pruned term_stats read
        (delete-adjusted when tombstones exist) — everything is
        metadata-sized."""
        tf = self._doc_terms(doc_id)
        dfs = self.term_dfs(sorted(tf))
        return self.spark.createDataFrame(
            [(t, int(c), int(dfs.get(t, 0))) for t, c in sorted(tf.items())],
            "term string, tf long, df long",
        )

    def term_positions(self, term: str) -> DataFrame:
        """The stored within-doc token offsets of ``term`` per matching doc
        — the primitive under phrase matching and (token-level)
        highlighting, exposed directly so the positional store's contents
        are value-checkable against the raw text."""
        if not self.positions:
            raise ValueError("index built without positions")
        toks = tokenize_py(term, self.profile)
        out_schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("positions", T.ArrayType(T.LongType()), False),
            ]
        )
        if len(toks) != 1:
            raise ValueError("term_positions takes exactly one analyzed term")

        def collect_pos(runs):
            ((_, cols),) = runs
            ids, tfs = _decode_blocks_batch(cols)
            pos = _decode_positions_batch(cols, tfs)
            offsets = np.concatenate(([0], np.cumsum(tfs))).astype(np.int32)
            return {
                "doc_id": ids,
                "positions": pa.ListArray.from_arrays(offsets, pos),
            }

        return self._per_segment(toks, collect_pos, out_schema, positions=True)

    def highlight(self, term: str, window: int = 5) -> DataFrame:
        """ES ``highlight``: per matching doc, a fragment of ``window``
        analyzed tokens on each side of the FIRST occurrence, the match
        wrapped in ``<em>…</em>`` → DataFrame(doc_id, fragment).

        The match position comes from the POSITIONAL INDEX (so this
        value-checks the stored offsets end-to-end), the doc set is the
        pruned posting read (never a corpus scan), and the fragment text
        re-derives from the docs sidecar rows of the matching ids only —
        window slicing + join is pure Catalyst. Fragments live in the
        analyzed-token domain (tokens joined by single spaces), which is
        what makes them exactly reproducible by a SQL oracle."""
        toks_q = tokenize_py(term, self.profile)
        if len(toks_q) != 1:
            raise ValueError("highlight takes exactly one analyzed term")
        term = toks_q[0]
        par = self.spark.sparkContext.defaultParallelism
        first = self.term_positions(term).select(
            "doc_id", (F.array_min("positions") + 1).alias("p")  # 1-based
        ).repartition(par, "doc_id")
        # the explicit repartition pins the join width: AQE otherwise
        # coalesces the small exchanges to one partition and the
        # per-matching-doc tokenize+slice projection runs serially
        docs = self._frame("docs/data").select("doc_id", "text")
        toks = tokenize_col("text", self.profile)
        mid = F.array(F.concat(F.lit("<em>"), F.lit(term), F.lit("</em>")))

        def frag(s):  # tokenize bound once (slice reads are field refs)
            p = s["p"]
            start = F.greatest(F.lit(1), p - window)
            prefix = F.when(
                p > 1, F.slice(s["ts"], start, p - start)
            ).otherwise(F.array().cast("array<string>"))
            suffix = F.slice(s["ts"], p + 1, window)
            return F.array_join(F.concat(prefix, mid, suffix), " ")

        return (
            first.join(docs, "doc_id")
            .select(
                "doc_id",
                F.element_at(
                    F.transform(
                        F.array(
                            F.struct(toks.alias("ts"), F.col("p").alias("p"))
                        ),
                        frag,
                    ),
                    1,
                ).alias("fragment"),
            )
        )

    def highlight_fragments(
        self, term: str, window: int = 5, max_fragments: int = 3
    ) -> DataFrame:
        """ES ``highlight`` with number_of_fragments > 1: up to
        ``max_fragments`` fragments per matching doc, one per occurrence
        in position order → (doc_id, frag_no, fragment). Same machinery
        as ``highlight`` (positional read → Catalyst slicing over matched
        sidecar rows only), with posexplode over the first N stored
        offsets."""
        toks_q = tokenize_py(term, self.profile)
        if len(toks_q) != 1:
            raise ValueError("highlight takes exactly one analyzed term")
        term = toks_q[0]
        occ = self.term_positions(term).select(
            "doc_id",
            F.posexplode(
                F.slice(F.sort_array("positions"), 1, max_fragments)
            ).alias("_i", "_p"),
        ).select(
            "doc_id",
            (F.col("_i") + 1).cast("long").alias("frag_no"),
            (F.col("_p") + 1).alias("p"),  # 1-based
        )
        docs = self._frame("docs/data").select("doc_id", "text")
        toks = tokenize_col("text", self.profile)
        start = F.greatest(F.lit(1), F.col("p") - window)
        prefix = F.when(
            F.col("p") > 1, F.slice(toks, start, F.col("p") - start)
        ).otherwise(F.array().cast("array<string>"))
        mid = F.array(F.concat(F.lit("<em>"), F.lit(term), F.lit("</em>")))
        suffix = F.slice(toks, F.col("p") + 1, window)
        return occ.join(docs, "doc_id").select(
            "doc_id",
            "frag_no",
            F.array_join(F.concat(prefix, mid, suffix), " ").alias("fragment"),
        )

    def highlight_query(self, q: str, window: int = 5) -> DataFrame:
        """ES ``highlight`` for a whole query-string query (ES highlights
        the full saved-search query, not one term): every doc matching the
        query gets ONE fragment around the FIRST occurrence of any
        positive query term, with every positive-term occurrence inside
        the fragment wrapped in ``<em>…</em>`` → (doc_id, fragment).

        Positive terms = the analyzed terms of the AST's must/should
        leaves (phrases contribute each of their terms; prefix/wildcard/
        fuzzy leaves contribute their dictionary expansions); must_not
        subtrees never highlight. First-occurrence positions come from the
        POSITIONAL INDEX (a pruned per-term read, unioned then min'd —
        value-checks the stored offsets); the doc set is the query-string
        filter; fragment slicing + wrapping is pure Catalyst over the
        matched ids' sidecar rows only. Fragments live in the
        analyzed-token domain, same as ``highlight``."""
        from functools import reduce

        from ..functions import querystring as qs

        node = qs.parse_query_string(q)
        terms: set[str] = set()

        def walk(n) -> None:
            if isinstance(n, qs.Bool):
                for m in n.must:
                    walk(m)
                for s in n.should:
                    walk(s)
            elif isinstance(n, (qs.Term, qs.Phrase)):
                terms.update(tokenize_py(n.text, self.profile))
            elif isinstance(n, qs.Prefix):
                terms.update(self.expand_prefix(n.text.lower()))
            elif isinstance(n, qs.Wildcard):
                terms.update(self.expand_wildcard(n.pattern.lower()))
            elif isinstance(n, qs.Fuzzy):
                toks = tokenize_py(n.term, self.profile)
                if len(toks) == 1:
                    terms.update(self.expand_fuzzy(toks[0], n.max_edits))
            else:
                raise TypeError(f"unknown query node {n!r}")

        walk(node)
        filt = self.query_string_docs(q)
        if not terms:
            return _empty(
                self.spark,
                T.StructType(
                    [
                        T.StructField("doc_id", T.LongType(), False),
                        T.StructField("fragment", T.StringType(), False),
                    ]
                ),
            )
        tlist = sorted(terms)
        pos = reduce(
            DataFrame.unionByName, (self.term_positions(t) for t in tlist)
        )
        first = (
            pos.join(filt, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg((F.min(F.array_min("positions")) + 1).alias("p"))  # 1-based
        )
        docs = self._frame("docs/data").select("doc_id", "text")
        toks = tokenize_col("text", self.profile)
        start = F.greatest(F.lit(1), F.col("p") - window)
        frag = F.slice(toks, start, F.col("p") - start + 1 + window)
        wrapped = F.transform(
            frag,
            lambda x: F.when(
                x.isin(tlist), F.concat(F.lit("<em>"), x, F.lit("</em>"))
            ).otherwise(x),
        )
        return first.join(docs, "doc_id").select(
            "doc_id", F.array_join(wrapped, " ").alias("fragment")
        )

    def phrase_docs(
        self,
        phrase: str,
        with_freq: bool = False,
        slop: int = 0,
        in_order: bool = True,
    ) -> DataFrame:
        """Phrase query (ES match_phrase) off the POSITIONAL index:
        doc ids whose analyzed token stream contains the phrase's terms at
        consecutive positions — or, with ``slop`` > 0, within a slop
        window.  Requires ``with_positions=True`` at build.

        Two slop semantics, both Lucene-real (see ``_phrase_slots_docs``):

        - ``in_order=True`` (default): span_near(in_order=true) — terms in
          phrase order, total gap slack p_last − p_first − (m−1) ≤ slop.
        - ``in_order=False``: Lucene SloppyPhraseScorer (what ES
          match_phrase slop actually runs) — shifted-position window
          max(p_i − i) − min(p_i − i) ≤ slop, so slop ≥ 2 pays for
          reordering: ``"table hash"~2`` matches the transposed text
          "hash table".  For in-order assignments the two agree.
          Restricted to phrases without repeated terms (Lucene's repeats
          handling is its own special case; such phrases raise).

        ``phrase_freq`` = number of valid match anchors (ordered: start
        positions; unordered: window-end elements).  Lucene instead
        accumulates 1/(1+matchLength); deviation documented for
        oracle-exactness.

        Per segment (same pruned read as ``search``): each query term's
        postings+positions decode vectorized; verification packs
        (doc_id << POS_BITS | pos) keys.  Exact matches intersect shifted
        key sets; sloppy matches run a greedy all-starts walk (ordered)
        or a min-range cover sweep (unordered).  All numpy set ops, never
        per-doc Python."""
        if not self.positions:
            raise ValueError(
                "this index was built without positions "
                "(IndexBuilder(with_positions=True)) — phrase queries need "
                "the positional sidecar; see also the scan-path "
                "fulltext_phrase_match for index-free corpora"
            )
        terms_seq = tokenize_py(phrase, self.profile)
        if terms_seq and len(terms_seq) == 1 and not with_freq:
            return self.match_docs(terms_seq[0], "and")
        return self._phrase_slots_docs(
            [[t] for t in terms_seq],
            with_freq=with_freq,
            slop=slop,
            in_order=in_order,
        )

    def phrase_prefix_docs(
        self,
        phrase_prefix: str,
        with_freq: bool = False,
        max_expansions: int = 50,
        slop: int = 0,
    ) -> DataFrame:
        """ES ``match_phrase_prefix`` (the type-as-you-search query): the
        input analyzes to a phrase whose LAST term is a prefix — docs
        matching the head terms in phrase order with ANY dictionary
        expansion of the prefix in the final slot. ``max_expansions``
        mirrors ES's cap, applied the same way (dictionary-order first
        ``max_expansions`` expansions, from ``expand_prefix``'s sorted
        term_stats read). Runs through the slot-generalized positional
        verifier — one pruned posting pass, never per-expansion phrase
        queries; composes with ``slop`` like match_phrase."""
        toks = tokenize_py(phrase_prefix, self.profile)
        fields = [T.StructField("doc_id", T.LongType(), False)]
        if with_freq:
            fields.append(T.StructField("phrase_freq", T.LongType(), False))
        if not toks:
            return _empty(self.spark, T.StructType(fields))
        # ES semantics: the FIRST max_expansions dictionary terms in term
        # order, silently capped (unlike prefix_docs' loud rewrite guard)
        exp = [
            r["term"]
            for r in self._term_stats.where(
                F.col("term").startswith(toks[-1])
            )
            .select("term")
            .orderBy("term")
            .limit(max_expansions)
            .collect()
        ]
        if not exp:
            return _empty(self.spark, T.StructType(fields))
        return self._phrase_slots_docs(
            [[t] for t in toks[:-1]] + [sorted(exp)],
            with_freq=with_freq,
            slop=slop,
        )

    def span_near_docs(
        self,
        terms: list[str] | str,
        slop: int = 0,
        in_order: bool = True,
        with_freq: bool = False,
    ) -> DataFrame:
        """Lucene ``SpanNearQuery`` over single-term clauses (ES
        span_near).  ``in_order=True``: clauses at increasing positions
        with total gap slack ≤ slop — exactly the ordered sloppy-phrase
        window, shared path.  ``in_order=False``: clauses anywhere within
        a span of ``slop`` unmatched positions — RAW-position window
        max(p) − min(p) ≤ slop + m − 1 (spans don't shift by clause
        offset, unlike match_phrase slop: ``span_near(a b, slop=0,
        in_order=false)`` matches the adjacent transposition "b a", which
        ``"a b"~0`` never does).  Same min-range cover sweep, disjoint
        clauses required when unordered."""
        seq = tokenize_py(terms, self.profile) if isinstance(terms, str) else list(terms)
        return self._phrase_slots_docs(
            [[t] for t in seq],
            with_freq=with_freq,
            slop=slop,
            in_order=in_order,
            span_window=not in_order,
        )

    def _phrase_slots_docs(
        self,
        slots: list[list[str]],
        with_freq: bool = False,
        slop: int = 0,
        in_order: bool = True,
        span_window: bool = False,
    ) -> DataFrame:
        """The positional verifier, generalized to per-position term SETS:
        a match places, at each successive position (exact) or within the
        slop window, ANY term of that position's slot.  ``phrase_docs``
        passes singleton slots; ``phrase_prefix_docs`` passes the prefix
        expansion as the last slot.  Same two-phase pruned read as always:
        doc-id-only decode → per-slot union, AND-intersect across slots →
        positions decode only for candidate blocks → packed-key set ops.

        ``in_order=True`` (default): span_near(in_order=true) semantics —
        slots match at increasing positions with total gap slack
        p_last − p_first − (m−1) ≤ slop (greedy all-starts walk; greedy
        minimizes the final position, so it finds a valid assignment iff
        one exists).

        ``in_order=False``: Lucene SloppyPhraseScorer / ES match_phrase
        slop semantics — an assignment of one position per slot whose
        SHIFTED positions s_i = p_i − i satisfy max(s) − min(s) ≤ slop.
        Reordering costs movement: ``"table hash"~2`` matches the
        transposed text "hash table" (span 2) but not at slop < 2; for
        in-order assignments s is monotone, so max−min equals the gap
        slack and the two semantics agree.  Evaluated as a min-range
        cover: a valid assignment exists iff some element x (the max) has
        every slot represented in [x − slop, x] — one searchsorted per
        slot over the doc-rank-rebased shifted keys, all docs at once.
        Restricted to phrases whose slots are pairwise disjoint (distinct
        chosen positions come free; Lucene's repeated-term handling is
        its own special case) — repeated-term phrases raise."""
        if not self.positions:
            raise ValueError(
                "this index was built without positions "
                "(IndexBuilder(with_positions=True)) — phrase queries need "
                "the positional sidecar"
            )
        if slop < 0:
            raise ValueError(f"slop must be >= 0, got {slop}")
        if not in_order and len(slots) > 1:
            seen: set[str] = set()
            for s in slots:
                if seen.intersection(s):
                    raise ValueError(
                        "unordered slop requires pairwise-disjoint slots "
                        "(repeated-term phrases: use in_order=True)"
                    )
                seen.update(s)
        fields = [T.StructField("doc_id", T.LongType(), False)]
        if with_freq:
            # phrase frequency = number of phrase start positions — the tf
            # that ES match_phrase feeds into BM25
            fields.append(T.StructField("phrase_freq", T.LongType(), False))
        out_schema = T.StructType(fields)
        if not slots or any(not s for s in slots):
            return _empty(self.spark, out_schema)
        uniq = sorted({t for s in slots for t in s})
        seq = [sorted(set(s)) for s in slots]

        def collect_phrase(runs):
            # phase 1: doc-id-only decode per term → candidate docs =
            # AND intersection of the per-slot unions. Positions never
            # decode for docs that miss any slot (head-term phrases skip
            # most of their blocks).
            per_term = {
                t: (cols, *_decode_blocks_batch(cols)) for t, cols in runs
            }
            cand_docs = None
            for slot in seq:
                present = [t for t in slot if t in per_term]
                if not present:
                    # a segment missing every term of a slot can't match
                    return None
                slot_ids = (
                    np.unique(per_term[present[0]][1])
                    if len(present) == 1
                    else np.unique(
                        np.concatenate([per_term[t][1] for t in present])
                    )
                )
                cand_docs = (
                    slot_ids
                    if cand_docs is None
                    else np.intersect1d(cand_docs, slot_ids, assume_unique=True)
                )
                if not len(cand_docs):
                    return None

            # phase 2: decode positions ONLY for blocks whose doc range
            # overlaps a candidate (block-max-style skipping) — the
            # phase-1 ids/tfs masked to those blocks' postings — keep only
            # candidate docs' tokens, then verify adjacency via shifted
            # (doc << POS_BITS | pos) key-set intersection
            keys: dict[str, np.ndarray] = {}
            for t, (cols, ids, tfs_) in per_term.items():
                idx = np.searchsorted(cand_docs, cols["first_doc_id"])
                keep = (idx < len(cand_docs)) & (
                    cand_docs[np.minimum(idx, len(cand_docs) - 1)]
                    <= cols["last_doc_id"]
                )
                if not keep.any():
                    # no candidate doc holds this term: fatal only for a
                    # singleton slot (checked via the slot-union below)
                    keys[t] = np.empty(0, dtype=np.int64)
                    continue
                in_kept = np.repeat(keep, cols["count"])
                ids, tfs_ = ids[in_kept], tfs_[in_kept]
                pos = _decode_positions_batch(_take(cols, keep), tfs_)
                doc_per_tok = np.repeat(ids, tfs_)
                m = np.isin(doc_per_tok, cand_docs, assume_unique=False)
                keys[t] = np.sort((doc_per_tok[m] << POS_BITS) | pos[m])

            def slot_keys(slot: list[str]) -> np.ndarray:
                present = [t for t in slot if t in keys and len(keys[t])]
                if not present:
                    return np.empty(0, dtype=np.int64)
                if len(present) == 1:
                    return keys[present[0]]
                return np.unique(np.concatenate([keys[t] for t in present]))

            sks = [slot_keys(s) for s in seq]
            if any(not len(k) for k in sks):
                return None
            starts = sks[0]
            # slop=0 is the exact phrase in BOTH phrase modes (an
            # unordered shifted window of span 0 forces consecutive
            # in-order positions) — but NOT for span_near, whose raw
            # window is m−1 wide even at slop=0
            if slop == 0 and not span_window:
                cand = starts
                for i, ks in enumerate(sks[1:], start=1):
                    if not len(cand):
                        break
                    cand = cand[np.isin(cand + i, ks, assume_unique=False)]
            elif not in_order:
                # Unordered window sweep.  span_window=False: Lucene
                # sloppy-phrase on SHIFTED positions (p_i − i, window
                # span ≤ slop).  span_window=True: SpanNearQuery on RAW
                # positions (window span ≤ slop + m − 1 — spans don't
                # shift by clause offset).  Rebase doc_id → dense rank
                # into 42 high bits so the (possibly biased) position
                # fits 22 low bits with no underflow/overflow at the
                # packed-key edges — doc_ids themselves may span 2^43.
                m = len(seq)
                POS2 = 22
                W = (slop + m - 1) if span_window else slop

                def shifted(ks: np.ndarray, i: int) -> np.ndarray:
                    d = ks >> POS_BITS
                    p = ks & ((1 << POS_BITS) - 1)
                    r = np.searchsorted(cand_docs, d).astype(np.int64)
                    bias = 0 if span_window else (m - i)
                    return np.sort((r << POS2) | (p + bias))

                A = [shifted(ks, i) for i, ks in enumerate(sks)]
                U = np.unique(np.concatenate(A))
                ok = np.ones(len(U), dtype=bool)
                doc_floor = (U >> POS2) << POS2  # window never crosses docs
                lo = np.maximum(U - W, doc_floor)
                for Ai in A:
                    idx = np.searchsorted(Ai, lo, side="left")
                    inb = idx < len(Ai)
                    v = Ai[np.minimum(idx, max(len(Ai) - 1, 0))]
                    ok &= inb & (v <= U)
                valid = U[ok]
                if not len(valid):
                    return None
                ranks, freqs = np.unique(valid >> POS2, return_counts=True)
                out = {"doc_id": cand_docs[ranks].astype(np.int64)}
                if with_freq:
                    # deviation (documented): freq = count of distinct
                    # valid window-end elements, the unordered analogue
                    # of ordered mode's count of match starts
                    out["phrase_freq"] = freqs.astype(np.int64)
                return out
            else:
                # greedy in-order walk, all starts at once: per slot, jump
                # to its smallest key strictly after the current one; a
                # start survives if every jump stays in the same doc and
                # the final displacement fits the (m-1)+slop window
                cur = starts
                alive = np.ones(len(starts), dtype=bool)
                start_doc = starts >> POS_BITS
                for ks in sks[1:]:
                    idx = np.searchsorted(ks, cur + 1, side="left")
                    ok = idx < len(ks)
                    nxt = ks[np.minimum(idx, max(len(ks) - 1, 0))]
                    alive &= ok & ((nxt >> POS_BITS) == start_doc)
                    cur = np.where(alive, nxt, cur)
                    if not alive.any():
                        return None
                alive &= (cur - starts) <= (len(seq) - 1 + slop)
                cand = starts[alive]
            if not len(cand):
                return None
            match_docs_arr, freqs = np.unique(cand >> POS_BITS, return_counts=True)
            out = {"doc_id": match_docs_arr.astype(np.int64)}
            if with_freq:
                out["phrase_freq"] = freqs.astype(np.int64)
            return out

        return self._per_segment(uniq, collect_phrase, out_schema, positions=True)


def naive_bm25_topk(
    docs: DataFrame, query: str, k: int = 10, profile: str = "ascii",
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Join-free exhaustive DataFrame BM25 — the §7.1-step-3 slice, kept as
    a cross-check and as the oracle-SQL-comparable path. Pure Catalyst:
    explode → two-phase aggs → window-free top-k via orderBy.limit."""
    terms = sorted(set(tokenize_py(query, profile)))
    if not terms:
        return _empty(docs.sparkSession, TOPK_SCHEMA)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        tokenize_col(text_col, profile).alias("toks"),
    ).withColumn("doc_len", F.size("toks"))
    stats = toks.agg(
        F.count("*").alias("N"), F.avg("doc_len").alias("avgdl")
    )
    tf = (
        toks.select("doc_id", "doc_len", F.explode("toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            bm25_cols(F.col("tf"), F.col("df"), F.col("doc_len"),
                      F.col("N"), F.col("avgdl")),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 9).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
