"""Benchmark inputs drawn from ``fixtures.webtext``.

The corpus and the upsert batch are fixed (corpus doc i = ``gen_doc(i)``
for i < CORPUS_DOCS), so the indexes built over them can be cached across
runs. The seed drives what a run sends: the BM25 query stream. The program
under test only ever receives these generated inputs.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from aether_elasticsearch_consumer_spark.fixtures.webtext import (
    _zipf_cdf,
    gen_doc,
    vocab,
)

CORPUS_DOCS = 10_000
CORPUS_FILES = 8
UPSERT_DOCS = 1_000
# index layout shared by every build in the benchmark
BUILD_KW = {"docs_per_segment": 2048, "term_buckets": 16}

# query strata, as in fixtures.webtext.queries_set (vocab ranks)
STRATA = {"head": (0, 50), "mid": (200, 2000), "tail": (10_000, 30_000)}
STRATUM_P = [("head", 0.40), ("mid", 0.35), ("tail", 0.18), ("absent", 0.07)]
# doc-index ranges of the upsert batch's new urls and new texts: disjoint
# from the corpus
_NEW_URL_BASE = 10_000_000
_NEW_TEXT_BASE = 50_000_000

_ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), False),
        pa.field("html", pa.binary(), False),
        pa.field("text", pa.string(), False),
        pa.field("lang", pa.string(), False),
    ]
)


def _rows_to_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(list(c), f.type) for c, f in zip(cols, _ARROW_SCHEMA)],
        schema=_ARROW_SCHEMA,
    )


def write_corpus(out_dir: Path) -> None:
    """Materialise the fixed webtext corpus as ``CORPUS_FILES`` parquet files."""
    voc, cdf = vocab(), _zipf_cdf()
    out_dir.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, CORPUS_DOCS, CORPUS_FILES + 1).astype(int)
    for f, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        rows = [gen_doc(i, voc, cdf) for i in range(lo, hi)]
        pq.write_table(_rows_to_table(rows), out_dir / f"part-{f:05d}.parquet")


def upsert_batch() -> pa.Table:
    """The upsert batch: half the docs reuse an existing corpus url with new
    text, half are new urls. Distinct urls within the batch."""
    rng = np.random.Generator(np.random.Philox(key=[0, 1000]))
    voc, cdf = vocab(), _zipf_cdf()
    n_old = UPSERT_DOCS // 2
    old_ids = rng.choice(CORPUS_DOCS, size=n_old, replace=False)
    rows = []
    for j, i in enumerate(old_ids.tolist()):
        url = gen_doc(i, voc, cdf)[0]
        _, ts, html, text, lang = gen_doc(_NEW_TEXT_BASE + j, voc, cdf)
        rows.append((url, ts, html, text, lang))
    for j in range(UPSERT_DOCS - n_old):
        rows.append(gen_doc(_NEW_URL_BASE + j, voc, cdf))
    return _rows_to_table(rows)


def _templates() -> list[tuple[list[str], int]]:
    """Twenty fixed query shapes (term strata, k). Strata are drawn once
    with the distribution of ``queries_set``; k is 1 and 100 on two shapes
    each, 10 on the rest. Every seed's stream cycles through the same
    shapes, so runs differ in terms, not in the mix of query costs."""
    rng = np.random.Generator(np.random.Philox(key=7))
    names = [s for s, _ in STRATUM_P]
    probs = [p for _, p in STRATUM_P]
    ks = {4: 100, 7: 1, 14: 100, 17: 1}
    return [
        (
            [names[int(rng.choice(len(names), p=probs))]
             for _ in range(int(rng.integers(1, 6)))],
            ks.get(i, 10),
        )
        for i in range(20)
    ]


def query_stream(seed: int, n_queries: int) -> list[dict]:
    """Seeded BM25 queries: 1-5 terms from the head/mid/tail/absent strata
    of ``queries_set``, k in {10, 1, 100}, cycling through ``_templates``.
    ``stratum`` labels the query ``k100`` when k == 100, else ``absent``
    when one of its terms is absent from the corpus, else by its first
    term's stratum."""
    rng = np.random.Generator(np.random.Philox(key=[seed, 7]))
    voc = vocab()

    def term(stratum: str) -> str:
        if stratum == "absent":
            return f"zzabsent{int(rng.integers(0, 100))}"
        lo, hi = STRATA[stratum]
        return voc[int(rng.integers(lo, hi))]

    shapes = _templates()
    out = []
    for qid in range(n_queries):
        strata, k = shapes[qid % len(shapes)]
        out.append(
            {
                "qid": qid,
                "query": " ".join(term(s) for s in strata),
                "k": k,
                "stratum": ("k100" if k == 100 else
                            "absent" if "absent" in strata else strata[0]),
            }
        )
    return out
