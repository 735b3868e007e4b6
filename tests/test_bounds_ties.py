"""Regression tests for two pruning-correctness hazards:

1. Tie-exact bounded top-k selection — argpartition on score alone keeps an
   arbitrary subset of rows whose rounded scores tie at the k-th boundary;
   the contract is (score desc, doc_id asc).
2. avgdl drift across segment merges — block max_impacts are computed
   against the BUILD avgdl; a merged index queries with the merged avgdl,
   which can exceed a side's build avgdl and silently invalidate stored
   bounds unless the reader inflates them.
"""

from __future__ import annotations

import numpy as np
import pytest

from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
from aether_elasticsearch_consumer_spark.operators.similarity import (
    _select_topk_ids,
)
from aether_elasticsearch_consumer_spark.operators.topk import (
    IndexReader,
    _select_topk,
)
from aether_elasticsearch_consumer_spark.oracle.engine import (
    build_oracle_index,
    score_query,
)
from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder
from aether_elasticsearch_consumer_spark.plans.segments import (
    merge_indexes,
    next_doc_id_offset,
)


def test_select_topk_boundary_tie_keeps_lowest_ids():
    # scores tie at the k-th boundary in scrambled id order: the kept
    # subset must be the lowest doc_ids among the tied group
    cand = np.array([7, 3, 9, 1, 5], dtype=np.int64)
    scores = np.array([1.0, 0.5, 0.5, 0.5, 0.2])
    ids, sc = _select_topk(cand, scores, 3)
    assert ids.tolist() == [7, 1, 3]
    assert sc.tolist() == [1.0, 0.5, 0.5]


def test_select_topk_all_tied():
    cand = np.array([4, 2, 0, 3, 1], dtype=np.int64)
    scores = np.full(5, 0.75)
    ids, _ = _select_topk(cand, scores, 2)
    assert ids.tolist() == [0, 1]


def test_select_topk_ids_similarity_tie():
    ids = np.array([40, 10, 30, 20], dtype=np.int64)
    cos = np.array([0.9, 0.8, 0.8, 0.8])
    got, _ = _select_topk_ids(ids, cos, 2)
    assert got.tolist() == [40, 10]


@pytest.fixture(scope="module")
def skewed_merge(spark, tmp_path_factory):
    """Base = short docs (small build avgdl), delta = long docs, so the
    merged avgdl strictly exceeds the base's build avgdl — the scenario
    where un-inflated stored bounds under-estimate true impacts."""
    root = tmp_path_factory.mktemp("skew")
    full = webtext_df(spark, 600, partitions=8).cache()
    short = full.where("length(text) < 700")
    long_ = full.where("length(text) >= 700")
    b = IndexBuilder(spark, str(root / "base"), docs_per_segment=128, term_buckets=8)
    b.build(short, fingerprint_extra="skew-short")
    off = next_doc_id_offset(str(root / "base"))
    d = IndexBuilder(
        spark, str(root / "delta"), docs_per_segment=128, term_buckets=8,
        doc_id_offset=off,
    )
    d.build(long_, fingerprint_extra="skew-long")
    merge_indexes(spark, str(root / "base"), str(root / "delta"), str(root / "m"))
    full.unpersist()
    return str(root / "m")


def test_merged_avgdl_drift_bounds(spark, skewed_merge):
    st = spark.read.parquet(f"{skewed_merge}/stats/data").collect()[0]
    # the scenario is real: merged avgdl exceeds the recorded build floor
    assert float(st["avgdl"]) > float(st["build_avgdl"])
    reader = IndexReader(spark, skewed_merge)
    assert reader.bound_scale > 1.0

    docs = (
        spark.read.parquet(f"{skewed_merge}/docs/data")
        .select("doc_id", "text")
        .toPandas()
    )
    oracle = build_oracle_index(list(zip(docs["doc_id"], docs["text"])))
    for q in ["the", "keta", "ba ke ra", "keta gera rare"]:
        got = [(r["doc_id"], r["score"]) for r in reader.search(q, k=10).collect()]
        want = score_query(oracle, q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_or_scores_one_pass_equals_per_term_union(spark, tmp_path_factory):
    """or_scores (one pruned pass, per_term_round=True kernel) is
    bit-identical to the pre-round-5 plan: per-term single-term jobs,
    union, groupBy round(sum(round(s,9)),9) — on multi-term, stopword,
    single-term, and absent-term queries."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
    from aether_elasticsearch_consumer_spark.operators.topk import IndexReader
    from aether_elasticsearch_consumer_spark.plans.index_build import (
        IndexBuilder,
    )

    root = tmp_path_factory.mktemp("orladder")
    IndexBuilder(
        spark, str(root / "idx"), docs_per_segment=128, term_buckets=8
    ).build(webtext_df(spark, 400, partitions=4), fingerprint_extra="orl")
    rd = IndexReader(spark, str(root / "idx"))

    def old_or(q):
        terms = sorted(set(q.split()))
        parts = [rd.score_matches(t) for t in terms]
        return (
            reduce(DataFrame.unionByName, parts)
            .groupBy("doc_id")
            .agg(F.round(F.sum("score"), 9).alias("score"))
        )

    for q in ["keta gera", "the keta gera tila", "the of and in is",
              "keta", "zzznope keta"]:
        a = {r["doc_id"]: r["score"] for r in old_or(q).collect()}
        b = {r["doc_id"]: r["score"] for r in rd.or_scores(q).collect()}
        assert a == b, q
