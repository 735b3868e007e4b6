"""Expected answers from ``oracle.engine`` over the live corpus.

The base oracle is built from the generator's text, keyed by the doc_id the
index assigned to each url. After an upsert, the live corpus is the base
minus the tombstoned doc_ids plus the batch docs under their new ids; its
postings are assembled per query term on first use, so an upsert costs one
pass over the batch instead of a rebuild over the whole corpus.
"""

from __future__ import annotations

import pickle
from collections import Counter
from pathlib import Path

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py
from aether_elasticsearch_consumer_spark.oracle.engine import (
    OracleIndex,
    build_oracle_index,
)


def url_doc_ids(index_dir: str | Path) -> dict[str, int]:
    """url -> doc_id as assigned by the index (driver-side parquet read)."""
    tbl = ds.dataset(str(Path(index_dir) / "docs" / "data"), format="parquet")
    tbl = tbl.to_table(columns=["url", "doc_id"])
    return dict(zip(tbl["url"].to_pylist(), tbl["doc_id"].to_pylist()))


def build_base(corpus_dir: Path, index_dir: str | Path, out: Path) -> None:
    ids = url_doc_ids(index_dir)
    tbl = pq.read_table(str(corpus_dir), columns=["url", "text"])
    docs = [(ids[u], t) for u, t in zip(tbl["url"].to_pylist(),
                                         tbl["text"].to_pylist())]
    out.write_bytes(pickle.dumps(build_oracle_index(docs)))


def load_base(path: Path) -> OracleIndex:
    # the pickle is written by build_base above, inside the benchmark's cache
    return pickle.loads(path.read_bytes())


class _LivePostings:
    """term -> (doc_ids, tfs) of the live corpus; the ``postings.get`` that
    ``score_query`` calls."""

    def __init__(self, base: OracleIndex, dead: np.ndarray,
                 new_post: dict[str, tuple[list[int], list[int]]]):
        self.base, self.dead, self.new_post = base, dead, new_post
        self.memo: dict[str, tuple[np.ndarray, np.ndarray] | None] = {}

    def get(self, term: str):
        if term not in self.memo:
            ids, tfs = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
            p = self.base.postings.get(term)
            if p is not None:
                keep = ~np.isin(p[0], self.dead)
                ids.append(p[0][keep])
                tfs.append(p[1][keep])
            q = self.new_post.get(term)
            if q is not None:
                ids.append(np.array(q[0], np.int64))
                tfs.append(np.array(q[1], np.int64))
            ids, tfs = np.concatenate(ids), np.concatenate(tfs)
            self.memo[term] = (ids, tfs) if len(ids) else None
        return self.memo[term]


def apply_upsert(base: OracleIndex, batch: list[tuple[str, str]],
                 before: dict[str, int], after: dict[str, int]) -> OracleIndex:
    """Live-corpus oracle after upserting ``batch`` [(url, text)].

    ``before``/``after`` map url -> doc_id in the index before and after
    the upsert: a reused url's old id is tombstoned, and every batch doc is
    scored under its new id."""
    dead = np.array(
        sorted(before[u] for u, _ in batch if u in before), dtype=np.int64
    )
    new_post: dict[str, tuple[list[int], list[int]]] = {}
    new_ids, new_lens = [], []
    for url, text in batch:
        toks = tokenize_py(text, base.profile)
        doc_id = after[url]
        new_ids.append(doc_id)
        new_lens.append(len(toks))
        for t, tf in Counter(toks).items():
            ids, tfs = new_post.setdefault(t, ([], []))
            ids.append(doc_id)
            tfs.append(tf)
    keep = ~np.isin(base.doc_ids, dead)
    doc_ids = np.concatenate([base.doc_ids[keep], np.array(new_ids, np.int64)])
    doc_lens = np.concatenate([base.doc_lens[keep], np.array(new_lens, np.int64)])
    order = np.argsort(doc_ids, kind="stable")
    return OracleIndex(
        doc_ids[order],
        doc_lens[order],
        _LivePostings(base, dead, new_post),
        N=len(doc_ids),
        avgdl=float(doc_lens.mean()),
        profile=base.profile,
    )
