"""Inverted-index build (X3-X6) as a staged, checkpoint-resumable Spark plan.

Replaces the reference's per-doc ``es.create`` hot loop
(/root/reference/consumer/app/artifacts.py:513-550, num_messages=1) with a
batch dataflow:

  docs:      webtext → extract_text (Arrow UDF) → tokenize → doc_len
             → deterministic dense doc_id → parquet
  doclens:   per-segment varbyte array of doc lengths (scorer sidecar)
  stats:     N, avgdl folded out of the doclens sidecar (no extra scan)
  postings:  mapInArrow tokenize + map-side tf count → one row of byte
             blobs (doc ids, tfs, token offsets when positional) per
             (segment, term) per batch → ONE hash shuffle on
             (segment_id, term_bucket) → whole-partition mapInArrow
             assembly (one numpy lexsort, batch varbyte, flat
             one-row-per-block output with exact idf-free block-max
             metadata) → parquet partitioned by term_bucket, written
             straight from the assembly tasks (no re-shuffle)
  term_stats: per-term global df → parquet partitioned by term_bucket

Scale design (10^12 docs):
- **No build-time join on term.** Blocks carry ``max_impact`` =
  max(tf/(tf+k1·(1−b+b·dl/avgdl))); idf multiplies in at query time from
  the tiny per-query df lookup. This removes the one skew-prone shuffle a
  naive design needs (postings ⋈ df on Zipf-head terms).
- **Head-term lists are structurally bounded**: the shuffle key is
  (segment_id, term_bucket); a term's postings within one group never
  exceed ``docs_per_segment`` rows, so "the" is split across segments by
  construction — long-posting-list splitting without a special case.
- **Exchange width follows the data**: max(defaultParallelism, N·avgdl /
  2M tokens) partitions, no fixed floor — each Python task pays a fixed
  worker set-up, so a small build runs one assembly task per core.
- **Zero per-row Python**: assembly is Arrow C++ dictionary encode +
  numpy over posting-level arrays exploded from the shuffle's blobs.
- Incremental ingest: a delta index built at a ``doc_id_offset`` merges
  with the base by pure union (plans/segments.py) — no decode, no rewrite.
- postings partitioned by ``term_bucket`` (pmod(xxhash64(term), B)) and
  sorted by (term, segment_id) within files → a term query prunes to 1/B
  of files by directory and to few row-groups by min/max.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import B as BM25_B
from .. import BLOCK_SIZE, K1
from ..functions.codec import varbyte_encode, varbyte_encode_with_lengths
from ..functions.html import extract_text
from ..functions.tokenizer import tokenize_col
from .checkpoint import content_hash, run_stage
from .doc_ids import assign_doc_ids
from .index_stats import IndexStats, read_stats, write_stats

DEFAULT_DOCS_PER_SEGMENT = 8192
DEFAULT_TERM_BUCKETS = 16
# per-task token cap of the postings exchange (see postings_stage)
_POSTINGS_TOKENS_PER_TASK = 2_000_000

# one row per 128-posting block, fully flat — rows build from numpy arrays
# with zero per-row Python objects, and the query side reads plain columns
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("term_bucket", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df_seg", T.LongType(), False),
        T.StructField("block_no", T.IntegerType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("count", T.IntegerType(), False),
        T.StructField("max_impact", T.DoubleType(), False),
        T.StructField("doc_deltas", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        # per-block positions stream (phrase queries): for each posting in
        # order, its tf within-doc token offsets, first absolute then gap-1
        # deltas, varbyte — empty bytes when the index was built without
        # positions
        T.StructField("positions", T.BinaryType(), False),
    ]
)

# per-term global df, partitioned by term_bucket (the term_stats stage)
TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term_bucket", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("df", T.LongType(), False),
    ]
)

DOCLENS_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("start_doc_id", T.LongType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("sum_len", T.LongType(), False),
        T.StructField("lens", T.BinaryType(), False),
    ]
)


def build_docs_df(source: DataFrame, profile: str = "ascii",
                  n_buckets: int = 64, doc_id_offset: int = 0,
                  id_col: str | None = None) -> DataFrame:
    """webtext → docs with text, tokens-derived doc_len, dense doc_id.

    ``id_col``: use an existing unique int64 column as doc_id instead of
    assigning one (sparse ids are fine — the doclens sidecar densifies per
    segment); default assigns deterministic dense ids from url rank."""
    cols = set(source.columns)
    df = source
    if "text" not in cols:
        df = df.withColumn("text", extract_text("html"))
    df = df.withColumn("doc_len", F.size(tokenize_col("text", profile)))
    keep = [c for c in ("url", "warc_ts", "lang", "text", "doc_len") if c in cols or c in ("text", "doc_len")]
    if id_col:
        return df.select(F.col(id_col).cast("long").alias("doc_id"), *keep)
    df = df.select(*keep)
    return assign_doc_ids(df, "url", n_buckets=n_buckets, offset=doc_id_offset).drop("_bucket")


DL_BITS = 20  # doc_len < 2^20 packs into the low bits of one int64;
# doc_id then spans 2^43 — comfortably past the 10^12-doc target
DL_MASK = (1 << DL_BITS) - 1


POSTING_GROUPS_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("packeds", T.BinaryType(), False),
        T.StructField("tfs_blob", T.BinaryType(), False),
        # each posting's tf within-doc token offsets, ascending, int32 —
        # empty bytes when the index is built without positions
        T.StructField("positions_blob", T.BinaryType(), False),
    ]
)


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + n)`` for each (s, n) — the gather
    index that moves variable-length runs in one fancy-index."""
    excl = np.cumsum(lens) - lens
    return np.repeat(starts - excl, lens) + np.arange(int(lens.sum()))


def make_posting_group_blobs_arrow(profile: str = "ascii", dps: int = 8192,
                                   with_positions: bool = False):
    """``(packed, text)`` batches → ONE row per (segment, term) per batch:
    ``(segment_id, term, packeds, tfs_blob, positions_blob)`` where the
    blobs are the group's per-posting packed int64s / tf int32s / token
    offsets (int32, tf per posting) as raw little-endian bytes.

    Tokenizing is the SPEC tokenizer (``tokenize_py`` — bit-identical to
    the Column tokenizer, pinned by the oracle-parity suite); tf counting
    and grouping are a per-batch factorize + lexsort + run-length, all
    numpy (guide §2.3 "aggregate before you shuffle", §4.2 native code
    inside the UDF). The postings exchange then carries ~25× fewer rows
    than one per (doc, term) posting, and the payload moves as opaque
    bytes the JVM copies in bulk; the reduce stage's cost was the JVM
    row↔Arrow conversion, not the numpy assembly. A pure-Column
    tf count (array_sort + HOF run-length) measured 2.25× slower.

    Arrival granularity cannot change any output row: the assembler's
    lexsort is a total order over unique (term, doc) postings, each
    posting's offsets travel with it, and the writer's partition sort
    fixes file order. Same-machine bytes → ``np.frombuffer`` round-trips
    exactly; both ends of a shuffle share endianness by construction.

    ``with_positions``: phrase keys pack (doc_id << DL_BITS | pos), so a
    doc of 2^DL_BITS or more tokens cannot be stored exactly — it fails
    the build here, before any shuffle. Such a doc's doc_len would also
    exceed the DL_MASK cap of the packed column."""
    from ..functions.tokenizer import tokenize_py

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            packed = batch.column("packed").to_numpy(zero_copy_only=False)
            toks = [
                tokenize_py(t, profile)
                for t in batch.column("text").to_pylist()
            ]
            lens = np.fromiter(
                (len(t) for t in toks), dtype=np.int64, count=n
            )
            if with_positions and int(lens.max()) >= 1 << DL_BITS:
                raise ValueError(
                    "positional index cannot store a doc with "
                    f">= 2^{DL_BITS} tokens (phrase-key packing envelope); "
                    "split or truncate the document"
                )
            total = int(lens.sum())
            if not total:
                continue
            flat = np.empty(total, dtype=object)
            off = 0
            for t in toks:
                flat[off : off + len(t)] = t
                off += len(t)
            codes, uniq = pd.factorize(flat, sort=False)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), lens)
            # stable: a (doc, term) run keeps its tokens in offset order
            order = np.lexsort((codes, doc_idx))
            c, d = codes[order], doc_idx[order]
            starts = np.empty(len(c), dtype=bool)
            starts[0] = True
            np.not_equal(c[1:], c[:-1], out=starts[1:])
            starts[1:] |= d[1:] != d[:-1]
            s_idx = np.flatnonzero(starts)
            tf = np.diff(np.append(s_idx, len(c))).astype(np.int32)
            # posting-level arrays → group by (segment, term)
            p_packed = packed[d[s_idx]].astype(np.int64)
            p_code = c[s_idx]
            p_seg = (p_packed >> DL_BITS) // dps
            g_order = np.lexsort((p_code, p_seg))
            gp = p_packed[g_order]
            gc = p_code[g_order]
            gt = tf[g_order]
            gs = p_seg[g_order]
            gstart = np.empty(len(gc), dtype=bool)
            gstart[0] = True
            np.not_equal(gc[1:], gc[:-1], out=gstart[1:])
            gstart[1:] |= gs[1:] != gs[:-1]
            gidx = np.flatnonzero(gstart)
            counts = np.diff(np.append(gidx, len(gc)))
            off8 = np.zeros(len(gidx) + 1, dtype=np.int64)
            np.cumsum(counts * 8, out=off8[1:])
            off4 = np.zeros(len(gidx) + 1, dtype=np.int64)
            np.cumsum(counts * 4, out=off4[1:])
            offp = np.zeros(len(gidx) + 1, dtype=np.int64)
            pos_bytes = b""
            if with_positions:
                # within-doc offsets in token order, then each posting's
                # tf-run gathered into group order
                pos = _ranges(np.zeros_like(lens), lens)
                pos_bytes = (
                    pos[order][_ranges(s_idx[g_order], gt)]
                    .astype(np.int32).tobytes()
                )
                np.cumsum(np.add.reduceat(gt.astype(np.int64), gidx) * 4,
                          out=offp[1:])
            yield pa.record_batch(
                {
                    "segment_id": pa.array(gs[gidx], pa.int64()),
                    "term": pa.array(uniq[gc[gidx]], pa.string()),
                    "packeds": _contiguous_binary(gp.tobytes(), off8),
                    "tfs_blob": _contiguous_binary(gt.tobytes(), off4),
                    "positions_blob": _contiguous_binary(pos_bytes, offp),
                }
            )

    return gen


def _blob_concat(col, dtype) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate a binary column's values into one numpy array of
    ``dtype`` plus per-row element counts — buffer math, no per-row
    python objects. Takes an Array or a ChunkedArray of ``binary`` or
    ``large_binary`` and reads each chunk through its own offsets, so a
    partition past 2 GiB never needs one int32-offset array."""
    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    nbytes = np.dtype(dtype).itemsize
    vals, counts = [np.empty(0, dtype)], [np.empty(0, np.int64)]
    for arr in chunks:
        if not len(arr):
            # a zero-row batch may carry a zero-size offsets buffer
            continue
        otype = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        _, off_buf, data_buf = arr.buffers()
        off = np.frombuffer(off_buf, dtype=otype)[
            arr.offset : arr.offset + len(arr) + 1
        ].astype(np.int64)
        data = np.frombuffer(data_buf, dtype=np.uint8)
        vals.append(data[off[0] : off[-1]].view(dtype))
        counts.append(np.diff(off) // nbytes)
    return np.concatenate(vals), np.concatenate(counts)


def _explode_blob_table(
    tbl: "pa.Table",
) -> tuple[np.ndarray, ...]:
    """Blob-group shuffle rows → posting-level numpy arrays
    ``(codes, dict_strs, term_buckets, packed, tfs, positions)`` for the
    assembler; ``positions`` is the flat token-offset stream (each
    posting's tf offsets, in posting order), empty without positions."""
    enc = pc.dictionary_encode(tbl["term"].combine_chunks())
    codes_row = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_strs = enc.dictionary.to_numpy(zero_copy_only=False)
    tbs_row = (
        tbl["term_bucket"].to_numpy(zero_copy_only=False).astype(np.int64)
    )
    packed_all, counts = _blob_concat(tbl["packeds"], np.int64)
    tf_all, _ = _blob_concat(tbl["tfs_blob"], np.int32)
    pos_all, _ = _blob_concat(tbl["positions_blob"], np.int32)
    return (
        np.repeat(codes_row, counts),
        dict_strs,
        np.repeat(tbs_row, counts),
        packed_all.astype(np.int64),
        tf_all.astype(np.int64),
        pos_all.astype(np.int64),
    )


def _contiguous_binary(buf, off: np.ndarray) -> "pa.Array":
    """Binary array whose values are contiguous slices of ``buf`` at the
    int64 ``off`` byte boundaries (len n+1) — built zero-copy from an
    offsets buffer instead of a python loop of bytes slices. Falls back
    to the slice loop past the 2 GiB int32-offset envelope (partitions
    are sized ~2M tokens, far below it)."""
    if len(off) and int(off[-1]) > np.iinfo(np.int32).max:
        return pa.array(
            [bytes(buf[off[i] : off[i + 1]]) for i in range(len(off) - 1)],
            type=pa.binary(),
        )
    return pa.Array.from_buffers(
        pa.binary(),
        len(off) - 1,
        [None, pa.py_buffer(off.astype(np.int32)), pa.py_buffer(buf)],
    )


def _assemble_postings_arrow(
    postings: tuple[np.ndarray, ...], avgdl: float, dps: int
) -> "pa.Table":
    """A shuffle partition's postings (``_explode_blob_table``) → one
    output row per 128-posting block. The partition may span MANY
    (segment, term_bucket) groups: a term run breaks at every segment
    boundary, so block-max metadata and delta encodings are always
    per-(segment, term) exactly as the reader expects.

    Everything is vectorized end-to-end: the whole partition sorts with
    ONE numpy lexsort (this replaces Spark's per-row comparator sort
    that groupBy().applyInArrow would insert — the dominant reduce-side
    cost at width, see BENCH/BASELINE.md), per-block deltas build with a
    masked where, and the partition's doc/tf/position streams
    varbyte-encode in batch calls whose per-value byte lengths slice the
    buffer into block payloads. The only per-block Python work is the
    fallback slice loop past 2 GiB."""
    codes, dict_strs, tbs, packed, tfs_in, pos_in = postings
    doc_ids_all = packed >> DL_BITS
    order = np.lexsort((doc_ids_all, codes))
    p_codes = codes[order]
    p_docs = doc_ids_all[order]
    p_dls = (packed[order] & DL_MASK).astype(np.float64)
    tfs = tfs_in[order]
    p_segs = p_docs // dps
    P = len(p_codes)

    # per-(term, segment) posting runs — docs sort ascending within a term,
    # so each segment's slice of the term's postings is contiguous
    t_is_start = np.empty(P, dtype=bool)
    t_is_start[0] = True
    np.not_equal(p_codes[1:], p_codes[:-1], out=t_is_start[1:])
    t_is_start[1:] |= p_segs[1:] != p_segs[:-1]
    t_starts = np.flatnonzero(t_is_start)
    t_lens = np.diff(np.append(t_starts, P))

    # 128-aligned block starts within each (term, segment) run
    rel = np.arange(P, dtype=np.int64) - np.repeat(t_starts, t_lens)
    b_is_start = (rel % BLOCK_SIZE) == 0
    b_starts = np.flatnonzero(b_is_start)
    b_ends = np.append(b_starts[1:], P)
    b_lens = (b_ends - b_starts).astype(np.int32)

    # delta stream: absolute doc id at block starts, gap-1 elsewhere
    prev = np.empty(P, dtype=np.int64)
    prev[0] = 0
    prev[1:] = p_docs[:-1]
    doc_vals = np.where(b_is_start, p_docs, p_docs - prev - 1)

    # idf-free impact — exact per-posting, so block maxes are exact bounds
    impact = tfs / (tfs + K1 * (1.0 - BM25_B + BM25_B * p_dls / avgdl))
    b_max_impact = np.maximum.reduceat(impact, b_starts)

    # batch varbyte encode; per-block payloads are CONTIGUOUS slices of
    # the partition buffer, so the binary columns build zero-copy from an
    # offsets vector over the one buffer (guide §4.2 — replaces three
    # python slice loops of n_blocks iterations each)
    doc_buf, doc_lens = varbyte_encode_with_lengths(doc_vals)
    tf_buf, tf_lens = varbyte_encode_with_lengths(tfs - 1)
    doc_off = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(doc_lens, out=doc_off[1:])
    tf_off = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(tf_lens, out=tf_off[1:])
    b_bounds = np.append(b_starts, P)
    doc_blobs = _contiguous_binary(doc_buf, doc_off[b_bounds])
    tf_blobs = _contiguous_binary(tf_buf, tf_off[b_bounds])

    if len(pos_in):
        # each posting's offsets follow it through the lexsort; the stream
        # is absolute at each posting start, gap-1 within a posting
        # (offsets strictly increase per posting)
        p_start_tok = np.cumsum(tfs) - tfs
        pos_sorted = pos_in[_ranges((np.cumsum(tfs_in) - tfs_in)[order], tfs)]
        n_tok = len(pos_sorted)
        is_start = np.zeros(n_tok, dtype=bool)
        is_start[p_start_tok] = True
        prev_pos = np.empty(n_tok, dtype=np.int64)
        prev_pos[0] = 0
        prev_pos[1:] = pos_sorted[:-1]
        pos_vals = np.where(is_start, pos_sorted, pos_sorted - prev_pos - 1)
        pos_buf, pos_lens = varbyte_encode_with_lengths(pos_vals)
        ptok_off = np.zeros(n_tok + 1, dtype=np.int64)
        np.cumsum(pos_lens, out=ptok_off[1:])
        pst_ext = np.append(p_start_tok, n_tok)
        pos_blobs = _contiguous_binary(pos_buf, ptok_off[pst_ext[b_bounds]])
    else:
        pos_blobs = _contiguous_binary(
            b"", np.zeros(len(b_starts) + 1, dtype=np.int64)
        )

    # per-block term linkage
    b_term_idx = np.searchsorted(t_starts, b_starts, side="right") - 1
    b_block_no = ((b_starts - t_starts[b_term_idx]) // BLOCK_SIZE).astype(np.int32)

    return pa.table(
        {
            "segment_id": pa.array(p_segs[b_starts]),
            "term_bucket": pa.array(tbs[order[b_starts]].astype(np.int32)),
            "term": pa.array(dict_strs[p_codes[b_starts]], type=pa.string()),
            "df_seg": pa.array(t_lens[b_term_idx].astype(np.int64)),
            "block_no": pa.array(b_block_no),
            "first_doc_id": pa.array(p_docs[b_starts]),
            "last_doc_id": pa.array(p_docs[b_ends - 1]),
            "count": pa.array(b_lens),
            "max_impact": pa.array(b_max_impact),
            "doc_deltas": doc_blobs,
            "tfs": tf_blobs,
            "positions": pos_blobs,
        }
    )


def _assemble_doclens(pdf: pd.DataFrame) -> pd.DataFrame:
    seg = int(pdf["segment_id"].iloc[0])
    ids = pdf["doc_id"].to_numpy().astype(np.int64)
    lens = pdf["doc_len"].to_numpy().astype(np.int64)
    order = np.argsort(ids)
    ids, lens = ids[order], lens[order]
    start = int(ids[0])
    # doc_ids are dense → contiguous within a segment
    dense = np.zeros(int(ids[-1]) - start + 1, dtype=np.int64)
    dense[ids - start] = lens
    return pd.DataFrame(
        [(seg, start, len(ids), int(lens.sum()), varbyte_encode(dense))],
        columns=["segment_id", "start_doc_id", "n_docs", "sum_len", "lens"],
    )


class IndexBuilder:
    """Checkpoint-resumable index build rooted at ``index_dir``.

    Layout::

        index_dir/docs/        url, doc_id, doc_len, text, ...
        index_dir/stats/       single row: N, avgdl, docs_per_segment, ...
        index_dir/doclens/     per-segment varbyte doc lengths
        index_dir/postings/    term_bucket=*/ block-compressed posting lists
        index_dir/term_stats/  term_bucket=*/ per-term global df
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        profile: str = "ascii",
        docs_per_segment: int = DEFAULT_DOCS_PER_SEGMENT,
        term_buckets: int = DEFAULT_TERM_BUCKETS,
        id_buckets: int = 64,
        doc_id_offset: int = 0,
        id_col: str | None = None,
        with_positions: bool = False,
    ):
        """Every build runs the same postings pipeline: map-side tokenize
        and tf count into one blob row per (segment, term) per batch
        (``make_posting_group_blobs_arrow``), one hash exchange on
        (segment_id, term_bucket), and whole-partition numpy assembly
        (``_assemble_postings_arrow``). The exchange is
        max(defaultParallelism, total tokens / ``_POSTINGS_TOKENS_PER_TASK``)
        partitions wide, so it grows with the corpus and a small build
        runs one assembly task per core.

        ``with_positions``: store within-doc token offsets per posting
        (gap-1 varbyte, per-block blobs) — enables exact index-backed
        phrase queries (``IndexReader.phrase_docs``). Costs one int32 per
        token in the shuffle blobs and ~1 byte/token on disk, and rejects
        any doc of 2^20 or more tokens; off by default (ES analogue:
        index_options=docs|freqs vs positions).
        """
        self.spark = spark
        self.dir = Path(index_dir)
        self.profile = profile
        self.dps = docs_per_segment
        self.term_buckets = term_buckets
        self.id_buckets = id_buckets
        self.with_positions = with_positions
        # delta builds start past the base index; must be a multiple of
        # docs_per_segment so segment ids never collide across a merge
        if doc_id_offset % docs_per_segment:
            raise ValueError("doc_id_offset must be a multiple of docs_per_segment")
        self.doc_id_offset = doc_id_offset
        self.id_col = id_col

    def build(self, source: DataFrame, fingerprint_extra: object = None,
              force: bool = False) -> dict:
        fp = content_hash(
            {
                "profile": self.profile,
                "dps": self.dps,
                "term_buckets": self.term_buckets,
                "id_buckets": self.id_buckets,
                "doc_id_offset": self.doc_id_offset,
                "id_col": self.id_col,
                "positions": self.with_positions,
                "source": fingerprint_extra,
                # v4: docs sidecar doc_id-sorted straight off the
                # id-assignment exchange (v3 paid an extra range shuffle
                # for the same row-group-prunable property)
                "v": 4,
            }
        )
        manifests = {}

        def check_pause() -> None:
            # cooperative pause (reference REST pause/resume analogue):
            # stop at the next stage boundary; finished stages keep their
            # manifests, so resume_job + re-run continues losslessly
            from .resources import JobPausedError, is_paused

            if is_paused(self.dir):
                raise JobPausedError(
                    f"build paused at {self.dir} (resume_job to continue); "
                    f"completed stages: {sorted(manifests)}"
                )

        check_pause()

        def docs_stage(tmp: str) -> dict:
            docs = build_docs_df(
                source, self.profile, self.id_buckets, self.doc_id_offset,
                id_col=self.id_col,
            )
            # doc_id-sorted sidecar files: point lookups (highlight
            # fragments, more_like_this seed text, phrase doc lengths,
            # term_vectors) prune by parquet row-group min/max instead of
            # scanning the whole corpus — the Lucene stored-fields
            # analogue of docid-ordered segments.
            #
            # The url-rank path needs NO extra exchange for this: the
            # id-assignment window already hash-partitions by _bucket and
            # sorts (bucket, url) within tasks, and doc_id = cumulative
            # bucket offset + url rank is MONOTONE in that sort order, so
            # each task's output is already doc_id-ascending; the local
            # sortWithinPartitions just pins the guarantee in the plan
            # (Catalyst can't prove the equivalence) without shuffling the
            # full text payload again (round-3's repartitionByRange cost
            # ~9% of build wall for layout the window provides for free).
            # Files then cover disjoint-but-interleaved bucket ranges; a
            # point id matches at most one row group per file, almost
            # always zero.
            if self.id_col:
                # caller-supplied ids (compact/reindex) carry no such
                # order — a range exchange is the only way to get a
                # prunable layout
                docs = docs.repartitionByRange(F.col("doc_id"))
            (
                docs.sortWithinPartitions("doc_id")
                .write.mode("overwrite")
                .parquet(tmp + "/data")
            )
            return {}

        manifests["docs"] = run_stage("docs", self.dir / "docs", fp, docs_stage, force)
        docs = self.spark.read.parquet(str(self.dir / "docs/data"))

        def doclens_stage(tmp: str) -> dict:
            (
                docs.select(
                    (F.col("doc_id") / self.dps).cast("long").alias("segment_id"),
                    "doc_id",
                    "doc_len",
                )
                .groupBy("segment_id")
                .applyInPandas(_assemble_doclens, DOCLENS_SCHEMA)
                .write.mode("overwrite")
                .parquet(tmp + "/data")
            )
            return {}

        check_pause()
        manifests["doclens"] = run_stage(
            "doclens", self.dir / "doclens", fp, doclens_stage, force
        )

        def stats_stage(tmp: str) -> dict:
            # N/avgdl fold out of the doclens sidecar (a few rows per
            # segment). Driver-local pyarrow on the already-committed
            # sidecar: two Spark jobs for a 5-row aggregate cost seconds
            # of scheduler overhead that this stage doesn't need.
            import pyarrow.dataset as ds

            tbl = ds.dataset(str(self.dir / "doclens/data"), format="parquet").to_table(
                columns=["n_docs", "sum_len"]
            )
            N = int(pc.sum(tbl["n_docs"]).as_py())
            avgdl = float(pc.sum(tbl["sum_len"]).as_py()) / N
            write_stats(tmp, IndexStats(
                N=N, avgdl=avgdl, build_avgdl=avgdl, docs_per_segment=self.dps,
                term_buckets=self.term_buckets, profile=self.profile,
                positions=self.with_positions,
            ))
            return {"N": N, "avgdl": avgdl}

        check_pause()
        manifests["stats"] = run_stage("stats", self.dir / "stats", fp, stats_stage, force)
        st = read_stats(self.dir)
        avgdl = st.avgdl

        def postings_stage(tmp: str) -> dict:
            # ONE wide shuffle: the map side tokenizes, counts tf and
            # groups each batch's postings into one blob row per
            # (segment, term) — ~25× fewer shuffle rows than one per
            # posting, the payload opaque bytes, token offsets a third
            # blob when positional (make_posting_group_blobs_arrow).
            # (doc_id, doc_len) pack into one int64; the explicit
            # 2-column select before the opaque Arrow stage keeps the
            # scan pruned (guide §4.1). avgdl rides the closure, never a
            # per-row column.
            dps = self.dps
            packed_col = (
                F.shiftleft(F.col("doc_id"), DL_BITS)
                + F.least(F.col("doc_len"), F.lit(DL_MASK))
            ).alias("packed")
            groups = (
                docs.select(packed_col, "text")
                .mapInArrow(
                    make_posting_group_blobs_arrow(
                        self.profile, dps, self.with_positions
                    ),
                    POSTING_GROUPS_SCHEMA,
                )
                # a JVM codegen expression over the group rows, not per
                # posting
                .withColumn(
                    "term_bucket",
                    F.pmod(F.xxhash64("term"), F.lit(self.term_buckets))
                    .cast("int"),
                )
            )

            def assemble_partition(batches):
                bl = list(batches)
                if not bl:
                    return
                tbl = pa.Table.from_batches(bl)
                yield from _assemble_postings_arrow(
                    _explode_blob_table(tbl), avgdl, dps
                ).to_batches()

            # plain hash exchange + whole-partition Arrow assembly: a
            # groupBy().applyInArrow here would add a per-row comparator
            # SORT in the JVM; instead the partition sorts ONCE in numpy
            # inside the assembler (the multi-group form breaks term runs
            # at segment boundaries, so output blocks are identical).
            # Measured: ~20% postings-stage wall at 32 CPUs, better
            # width-scaling (BENCH/BASELINE.md). Partition count scales
            # with DATA (total tokens are known from the stats stage —
            # N × avgdl): one task per core, more only past
            # _POSTINGS_TOKENS_PER_TASK each. A fixed count went 1.9×
            # sublinear at 1M docs, and no floor above the core count:
            # every Python task pays ~250 ms of set-up, even when empty.
            n_parts = max(
                self.spark.sparkContext.defaultParallelism,
                -(-int(st.N * avgdl) // _POSTINGS_TOKENS_PER_TASK),
            )
            (
                groups.repartition(n_parts, "segment_id", "term_bucket")
                .mapInArrow(assemble_partition, POSTINGS_SCHEMA)
                # leading term_bucket: output ordering starts with the
                # partition column, so FileFormatWriter reuses this sort
                # instead of inserting its own partition-column sort on
                # top (round 6); per-file (term, segment, block) order is
                # unchanged
                .sortWithinPartitions(
                    "term_bucket", "term", "segment_id", "block_no"
                )
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(tmp + "/data")
            )
            return {}

        check_pause()
        manifests["postings"] = run_stage(
            "postings", self.dir / "postings", fp, postings_stage, force
        )

        def term_stats_stage(tmp: str) -> dict:
            # the known schema, not inference: docs without tokens write
            # no postings files, and inference would fail on them
            postings = self.spark.read.schema(POSTINGS_SCHEMA).parquet(
                str(self.dir / "postings/data")
            )
            (
                # sum block counts (df_seg repeats per block row of a term)
                postings.groupBy("term_bucket", "term")
                .agg(F.sum("count").alias("df"))
                .repartition("term_bucket")
                .sortWithinPartitions("term")
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(tmp + "/data")
            )
            return {}

        check_pause()
        manifests["term_stats"] = run_stage(
            "term_stats", self.dir / "term_stats", fp, term_stats_stage, force
        )
        return manifests
