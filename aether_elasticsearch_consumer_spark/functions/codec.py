"""Posting-list compression (X4) + block-max metadata (X5).

Lucene keeps postings as delta + FOR/varbyte-compressed blocks with impact
(block-max) metadata enabling WAND skipping; the reference relies on that
engine wholesale. Here: docID deltas + LEB128-style varbyte, fully
vectorized in numpy (no per-element Python loops — loops run over the ≤10
*byte positions*, not over the values), packaged in 128-posting blocks each
carrying ``first_doc_id``, ``last_doc_id``, ``count`` and an exact
``max_score`` upper bound (computed with true per-doc lengths at build time,
so WAND pruning is exact, never lossy).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .. import BLOCK_SIZE


def varbyte_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128 varbyte encode + per-value byte lengths (for slicing a batch
    encode into per-block buffers without re-encoding)."""
    v = np.asarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > np.uint64(0)).astype(np.int64)
        tmp >>= np.uint64(7)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=offsets[1:])
    out = np.zeros(int(offsets[-1] + nbytes[-1]), dtype=np.uint8)
    for b in range(int(nbytes.max())):
        mask = nbytes > b
        payload = (v[mask] >> np.uint64(7 * b)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > b).astype(np.uint8) << 7
        out[offsets[mask] + b] = payload.astype(np.uint8) | cont
    return out.tobytes(), nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128 varbyte encode a non-negative int array (vectorized)."""
    return varbyte_encode_with_lengths(values)[0]


def varbyte_decode(buf: bytes | bytearray | memoryview) -> np.ndarray:
    """Decode a varbyte buffer → uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    payload = (b & 0x7F).astype(np.uint64)
    byte_idx = np.arange(len(b), dtype=np.int64) - np.repeat(starts, lengths)
    contrib = payload << (np.uint64(7) * byte_idx.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def delta_encode(doc_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing doc_ids → first-value + gaps-1 (denser varbytes)."""
    d = np.asarray(doc_ids, dtype=np.int64)
    out = np.empty_like(d)
    out[0] = d[0]
    out[1:] = np.diff(d) - 1
    return out


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    d = np.asarray(deltas, dtype=np.int64)
    d = d.copy()
    d[1:] += 1
    return np.cumsum(d)


@dataclass(frozen=True)
class PostingBlock:
    first_doc_id: int
    last_doc_id: int
    count: int
    max_score: float
    doc_deltas: bytes  # varbyte(delta_encode(doc_ids))
    tfs: bytes         # varbyte(tf - 1)


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    scores: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> list[PostingBlock]:
    """Pack a (sorted by doc_id) posting list into compressed blocks.

    ``scores`` are the exact BM25 contributions of each posting (computed at
    build time with the final N/avgdl/df) — block max is an exact bound.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    blocks: list[PostingBlock] = []
    for s in range(0, len(doc_ids), block_size):
        e = min(s + block_size, len(doc_ids))
        ids = doc_ids[s:e]
        blocks.append(
            PostingBlock(
                first_doc_id=int(ids[0]),
                last_doc_id=int(ids[-1]),
                count=int(e - s),
                max_score=float(scores[s:e].max()),
                doc_deltas=varbyte_encode(delta_encode(ids)),
                tfs=varbyte_encode(tfs[s:e] - 1),
            )
        )
    return blocks


def decode_block(doc_deltas: bytes, tfs: bytes) -> tuple[np.ndarray, np.ndarray]:
    ids = delta_decode(varbyte_decode(doc_deltas).astype(np.int64))
    tf = varbyte_decode(tfs).astype(np.int64) + 1
    return ids, tf
