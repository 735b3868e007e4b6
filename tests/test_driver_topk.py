"""BM25 top-k on both sides of the driver/Spark selection.

Contracts:
- ``search`` (and ``search_after`` through it) is rank-identical to the
  exhaustive oracle whether the query scores on the driver (Σdf at or
  under ``_DRIVER_SCORE_MAX_DF``) or in the Spark plan, on clean and
  tombstoned indexes, for k ∈ {1, 10, 10^6} and for cursor pages;
- opening a reader and answering a small search run zero Spark jobs;
- ``_score_segments`` gives the same hits whatever order and batching
  the posting rows arrive in (an exchange delivers them as shuffled
  record batches);
- a segment missing from the doclens sidecar yields no hits on either
  side, and the phrase scorer's lens lookup raises a named error instead
  of reading a neighbouring segment's lengths;
- no reader operation creates a Spark broadcast (the sidecar is a
  per-task point read, so nothing per reader outlives a query).
"""

from __future__ import annotations

import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py
from aether_elasticsearch_consumer_spark.operators import topk
from aether_elasticsearch_consumer_spark.operators.topk import IndexReader
from aether_elasticsearch_consumer_spark.oracle.engine import (
    build_oracle_index,
    score_query,
)
from aether_elasticsearch_consumer_spark.plans.ann_index import LshAnnIndex
from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder
from aether_elasticsearch_consumer_spark.plans.tombstones import apply_deletes

KW = dict(docs_per_segment=64, term_buckets=8)
DEAD = [0, 5, 63, 64, 100, 190, 250, 251, 299]
QUERIES = ["keta", "keta gera", "the", "ba ke zo ri", "keta zzabsent"]
SIDES = {"driver": 10**18, "spark": 0}


def _docs(spark, idx: str) -> list[tuple[int, str]]:
    return [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{idx}/docs/data")
        .select("doc_id", "text")
        .collect()
    ]


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """A 300-doc index and a tombstoned copy, each with its oracle."""
    root = tmp_path_factory.mktemp("drvtopk")
    clean = str(root / "clean")
    IndexBuilder(spark, clean, **KW).build(
        webtext_df(spark, 300, partitions=4), fingerprint_extra="drv300"
    )
    tomb = str(root / "tomb")
    shutil.copytree(clean, tomb)
    apply_deletes(spark, tomb, DEAD)
    docs = _docs(spark, clean)
    live = [(i, t) for i, t in docs if i not in set(DEAD)]
    return {
        "clean": (clean, build_oracle_index(docs)),
        "tomb": (tomb, build_oracle_index(live)),
    }


def _rows(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("side", list(SIDES))
@pytest.mark.parametrize("which", ["clean", "tomb"])
@pytest.mark.parametrize("k", [1, 10, 10**6])
def test_search_matches_oracle_on_both_sides(
    spark, indexes, monkeypatch, side, which, k
):
    monkeypatch.setattr(topk, "_DRIVER_SCORE_MAX_DF", SIDES[side])
    idx, oracle = indexes[which]
    rd = IndexReader(spark, idx)
    assert rd.has_deletes == (which == "tomb")
    for q in QUERIES:
        assert _rows(rd.search(q, k=k)) == score_query(oracle, q, k=k), q


@pytest.mark.parametrize("side", list(SIDES))
@pytest.mark.parametrize("which", ["clean", "tomb"])
def test_search_after_page_matches_oracle(
    spark, indexes, monkeypatch, side, which
):
    monkeypatch.setattr(topk, "_DRIVER_SCORE_MAX_DF", SIDES[side])
    idx, oracle = indexes[which]
    rd = IndexReader(spark, idx)
    q = "the keta"  # head term: page boundaries fall inside score ties
    want = score_query(oracle, q, k=25)
    s, d = want[9][1], want[9][0]
    assert _rows(rd.search_after(q, s, d, k=15)) == want[10:25]


@pytest.mark.parametrize("which", ["clean", "tomb"])
def test_open_and_small_search_run_no_spark_job(
    spark, jobs_in, indexes, which
):
    idx, oracle = indexes[which]
    readers = []
    assert jobs_in(lambda: readers.append(IndexReader(spark, idx))) == 0
    rd = readers[0]
    cap = topk._DRIVER_SCORE_MAX_DF
    assert sum(rd.term_dfs(["keta", "gera"]).values()) <= cap
    for q, k in [("keta gera", 10), ("zzabsent", 10), ("", 10), ("keta", 0)]:
        rows = []
        n_jobs = jobs_in(lambda: rows.extend(_rows(rd.search(q, k=k))))
        assert n_jobs == 0, q
        assert rows == (score_query(oracle, q, k=k) if k else []), q


def _arrived(post: pa.Table, rng, n_batches: int = 5) -> pa.Table:
    """``post``'s rows in shuffled order, cut into ``n_batches`` record
    batches, as an exchange hands them to a scoring task."""
    n = post.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), n_batches - 1, replace=False))
    rows = post.take(rng.permutation(n))
    return pa.Table.from_batches(
        [
            b
            for s, e in zip([0, *cuts], [*cuts, n])
            for b in rows.slice(s, e - s).to_batches()
        ]
    )


ARRIVAL_QUERY = "the keta for and"


@pytest.mark.parametrize("which", ["clean", "tomb"])
@pytest.mark.parametrize(
    "mode", ["top10", "after", "per_term_round", "match_docs_or"]
)
def test_score_segments_ignores_arrival_order(
    spark, indexes, monkeypatch, which, mode
):
    """A multi-segment, multi-term pruned table scored as shuffled record
    batches gives exactly the hits of the sorted whole table, and the
    oracle's: the scorer orders the rows itself. ``match_docs_or`` feeds
    the same tables to a decode operator's per-task function (the one
    ``match_docs`` hands to ``mapInArrow``), which must give the doc set
    of the sorted table and of the live corpus."""
    idx, oracle = indexes[which]
    rd = IndexReader(spark, idx)
    terms = sorted(set(tokenize_py(ARRIVAL_QUERY, rd.profile)))
    dfs = rd.term_dfs(terms)
    post = rd._pa("postings/data").to_table(
        columns=topk._SCORE_COLS, filter=rd._term_filter(terms)
    )
    assert len(set(post["segment_id"].to_pylist())) > 1
    assert len(set(post["term"].to_pylist())) == len(terms) > 1
    whole = post.sort_by(
        [(c, "ascending") for c in ("segment_id", "term", "block_no")]
    )
    arrived = _arrived(post, np.random.default_rng(7))
    assert arrived["term"].num_chunks == 5

    if mode == "match_docs_or":
        tasks = []
        real = topk._decode_task
        monkeypatch.setattr(
            topk, "_decode_task", lambda *a: tasks.append(real(*a)) or tasks[-1]
        )
        rd.match_docs(ARRIVAL_QUERY, "or")

        def doc_ids(tbl):
            out = list(tasks[0](iter(tbl.to_batches())))
            assert len(out) == len(set(tbl["segment_id"].to_pylist()))
            return np.concatenate([b["doc_id"].to_numpy() for b in out])

        got = np.sort(doc_ids(arrived))
        np.testing.assert_array_equal(got, np.sort(doc_ids(whole)))
        live = set().union(*(oracle.postings[t][0].tolist() for t in terms))
        assert got.tolist() == sorted(live)
        return

    k, after = 10, None
    want = score_query(oracle, ARRIVAL_QUERY, k=k)
    if mode == "after":
        page = score_query(oracle, ARRIVAL_QUERY, k=25)
        k, after, want = 15, (page[9][1], page[9][0]), page[10:25]
    elif mode == "per_term_round":
        # the or_scores clause ladder, every match: round(Σ round(s_t, 9), 9)
        k, ladder = 10**6, {}
        for t in terms:
            for d, sc in score_query(oracle, t, k=k):
                ladder[d] = ladder.get(d, 0.0) + sc
        want = {d: round(sc, 9) for d, sc in ladder.items()}

    def score(tbl):
        return topk._score_segments(
            tbl, *rd._sidecars(), rd.N, rd.avgdl, k, dfs,
            bound_scale=rd.bound_scale, after=after,
            per_term_round=mode == "per_term_round",
        )

    got = score(arrived)
    for a, w in zip(got, score(whole)):
        np.testing.assert_array_equal(a, w)
    top = list(zip(*(a.tolist() for a in topk._select_topk(*got, k))))
    if mode == "per_term_round":
        assert dict(top) == pytest.approx(want, abs=1e-9)
    else:
        assert top == want


def _drop_doclens_row(idx, segment_id: int) -> None:
    """Rewrite an index's doclens sidecar without one segment's row."""
    dl_dir = idx / "doclens" / "data"
    tbl = ds.dataset(str(dl_dir), format="parquet").to_table()
    for f in dl_dir.glob("*.parquet"):
        f.unlink()
    pq.write_table(
        tbl.filter(ds.field("segment_id") != segment_id),
        str(dl_dir / "part-0.parquet"),
    )


def test_missing_sidecar_segment_scores_alike_on_both_sides(
    spark, indexes, monkeypatch, tmp_path
):
    """A segment absent from the doclens sidecar yields no hits on either
    side: both score through ``_score_segments``."""
    idx = str(tmp_path / "nodl")
    shutil.copytree(indexes["clean"][0], idx)
    _drop_doclens_row(tmp_path / "nodl", 1)
    rd = IndexReader(spark, idx)
    got = {}
    for side, cap in SIDES.items():
        monkeypatch.setattr(topk, "_DRIVER_SCORE_MAX_DF", cap)
        got[side] = _rows(rd.search("the keta", k=1000))
    assert got["driver"] == got["spark"]
    assert got["driver"] and not [d for d, _ in got["driver"] if d // 64 == 1]


@pytest.fixture(scope="module")
def positional(spark, tmp_path_factory):
    """A 200-doc positional index and a tombstoned copy."""
    root = tmp_path_factory.mktemp("drvpos")
    clean = str(root / "clean")
    IndexBuilder(spark, clean, with_positions=True, **KW).build(
        webtext_df(spark, 200, partitions=4), fingerprint_extra="drvpos200"
    )
    tomb = str(root / "tomb")
    shutil.copytree(clean, tomb)
    apply_deletes(spark, tomb, [d for d in DEAD if d < 200])
    return {"clean": clean, "tomb": tomb}


@pytest.mark.parametrize("dropped", [0, 1])
def test_phrase_lens_lookup_raises_on_missing_sidecar_segment(
    spark, positional, dropped, tmp_path
):
    """Drop one segment's doclens row on disk: a phrase match in it must
    raise MissingSidecarError, never score with a neighbouring segment's
    lengths."""
    shutil.copytree(positional["clean"], tmp_path / "idx")
    _drop_doclens_row(tmp_path / "idx", dropped)
    rd = IndexReader(spark, str(tmp_path / "idx"))
    text = dict(_docs(spark, rd.dir))[dropped * 64]
    phrase = " ".join(tokenize_py(text, rd.profile)[:2])
    with pytest.raises(Exception, match="MissingSidecarError"):
        rd.phrase_scores(phrase).collect()


def test_reader_operations_create_no_broadcast(spark, positional, monkeypatch):
    """Opening readers on a clean and a tombstoned index and running the
    Spark-side ``search``, ``or_scores`` and ``phrase_scores`` creates no
    Spark broadcast, so a long-lived session holds none per reader."""
    monkeypatch.setattr(topk, "_DRIVER_SCORE_MAX_DF", 0)
    sc = spark.sparkContext
    calls = []
    real = sc.broadcast

    def counting(value):
        calls.append(type(value).__name__)
        return real(value)

    monkeypatch.setattr(sc, "broadcast", counting)
    for which, idx in positional.items():
        rd = IndexReader(spark, idx)
        assert rd.has_deletes == (which == "tomb")
        text = dict(_docs(spark, idx))[70]
        phrase = " ".join(tokenize_py(text, rd.profile)[:2])
        assert rd.search("the keta", k=5).collect(), which
        assert rd.or_scores("keta gera").collect(), which
        assert rd.phrase_scores(phrase).collect(), which
    assert calls == []


@pytest.fixture(scope="module")
def ann_no_probe(spark, tmp_path_factory):
    """A four-vector LSH index and a query vector whose prefix ball at
    radius 0 holds no stored partition."""
    rng = np.random.default_rng(7)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(rng.normal(size=(4, 8)))],
        "vec_id long, embedding array<double>",
    )
    idx = LshAnnIndex.build(
        spark, df, str(tmp_path_factory.mktemp("ann") / "lsh"),
        n_planes=16, prefix_bits=6,
    )
    q = next(v for v in rng.normal(size=(64, 8)) if not idx.probe_paths(v, 0))
    return idx, q


@pytest.mark.parametrize(
    "op",
    ["match_docs", "term_freqs", "bool_docs_msm", "bool_docs_none",
     "phrase_docs", "span_near_docs", "percolate", "ann_no_probe"],
)
def test_operators_without_terms_run_no_spark_job(
    spark, jobs_in, positional, ann_no_probe, op
):
    """An operator whose input yields no terms (or, for ANN, no probed
    partition) answers with an empty local relation: planning and
    collecting it runs no Spark job, on a tombstoned reader too (nothing
    left to strip)."""
    rd = IndexReader(spark, positional["tomb"])
    ann, q = ann_no_probe
    call = {
        "match_docs": lambda: rd.match_docs(""),
        "term_freqs": lambda: rd.term_freqs([]),
        "bool_docs_msm": lambda: rd.bool_docs(
            should=["keta"], minimum_should_match=2
        ),
        "bool_docs_none": lambda: rd.bool_docs(),
        "phrase_docs": lambda: rd.phrase_docs(""),
        "span_near_docs": lambda: rd.span_near_docs([]),
        "percolate": lambda: rd.percolate({}),
        "ann_no_probe": lambda: ann.query(q, k=5, max_hamming=0),
    }[op]
    rows = []
    assert jobs_in(lambda: rows.extend(call().collect())) == 0
    assert rows == []
