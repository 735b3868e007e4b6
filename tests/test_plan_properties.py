"""Physical-plan contracts: the pruning/broadcast properties the scale
story depends on, asserted on the actual executed plans (not docstrings).

- a term query's postings scan must carry a PartitionFilter on
  term_bucket (directory pruning to 1/B of files) and a pushed term
  filter (row-group min/max pruning); the search() plans are pinned on
  the Spark side (forced past the driver-side Σdf cap), and the driver
  side's pyarrow reads must open only the query's term_bucket dirs;
- a search() plan is one exchange and no join, on clean and tombstoned
  readers alike (the df map rides the scoring closure, the sidecar is a
  per-task point read);
- every posting-decode operator plans the same scan → one segment
  exchange → per-task Arrow step, with no join and no sort, on clean and
  tombstoned readers alike;
- ANN index queries list only the probed partition directories.
"""

from __future__ import annotations

import re

import pytest

from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
from aether_elasticsearch_consumer_spark.operators import topk
from aether_elasticsearch_consumer_spark.operators.topk import IndexReader
from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("planprops")
    IndexBuilder(
        spark, str(root / "idx"), docs_per_segment=128, term_buckets=8
    ).build(webtext_df(spark, 300, partitions=4), fingerprint_extra="pp")
    return IndexReader(spark, str(root / "idx"))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tomb_reader(spark, tmp_path_factory):
    from aether_elasticsearch_consumer_spark.plans.tombstones import (
        apply_deletes,
    )

    root = tmp_path_factory.mktemp("planprops_del")
    idx = str(root / "idx")
    IndexBuilder(
        spark, idx, docs_per_segment=128, term_buckets=8
    ).build(webtext_df(spark, 300, partitions=4), fingerprint_extra="ppd")
    docs = spark.read.parquet(f"{idx}/docs/data").select("doc_id").limit(3)
    apply_deletes(spark, idx, docs)
    return IndexReader(spark, idx)


@pytest.mark.parametrize("which", ["clean", "tomb"])
def test_search_plan_prunes_one_exchange_no_join(request, monkeypatch, which):
    """The Spark side of search() (forced past the driver-side cap) has
    one plan shape with and without tombstones: a pruned postings scan,
    one pinned-width exchange by segment, and the per-task Arrow scorer
    (the df map in its closure) reading its own sidecar rows — no
    join."""
    monkeypatch.setattr(topk, "_DRIVER_SCORE_MAX_DF", 0)
    rd = request.getfixturevalue("reader" if which == "clean" else "tomb_reader")
    assert rd.has_deletes == (which == "tomb")
    plan = _plan(rd.search("keta gera", k=5))
    # directory pruning: the scan's PartitionFilters must constrain
    # term_bucket (never a full-directory listing)
    assert "PartitionFilters" in plan
    assert "term_bucket" in plan.split("PartitionFilters")[1][:200]
    # row-group pruning: the term predicate reaches the parquet scan
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "term" in pushed and ("In(" in pushed or "EqualTo" in pushed)
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_driver_search_reads_only_query_buckets(spark, reader, tmp_path):
    """The driver side's pyarrow reads prune like the Spark scan: only the
    query terms' term_bucket directories of postings and term_stats are
    opened. Every other bucket's files are overwritten with garbage after
    the reader has listed them, and the answer must not change."""
    import shutil

    idx = tmp_path / "idx"
    shutil.copytree(reader.dir, idx)
    rd = IndexReader(spark, str(idx))
    q = "keta gera"
    want = rd.search(q, k=5).collect()
    keep = set(rd._buckets_for(["keta", "gera"]).values())
    assert len(keep) < rd.term_buckets
    n_bad = 0
    for sub in ("postings", "term_stats"):
        for f in (idx / sub / "data").glob("term_bucket=*/*.parquet"):
            if int(f.parent.name.split("=")[1]) not in keep:
                f.write_bytes(b"not parquet")
                n_bad += 1
    assert n_bad
    assert sum(rd.term_dfs(["keta", "gera"]).values()) <= topk._DRIVER_SCORE_MAX_DF
    assert want and rd.search(q, k=5).collect() == want


@pytest.fixture(scope="module")
def pos_reader(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("planprops_pos")
    IndexBuilder(
        spark, str(root / "idx"), docs_per_segment=16, term_buckets=8,
        with_positions=True,
    ).build(webtext_df(spark, 300, partitions=4), fingerprint_extra="ppp")
    return IndexReader(spark, str(root / "idx"))


DECODE_OPS = {
    "match_docs": lambda rd: rd.match_docs("keta gera", "or"),
    "term_freqs": lambda rd: rd.term_freqs(["keta", "gera"]),
    "term_positions": lambda rd: rd.term_positions("keta"),
    "phrase_docs": lambda rd: rd.phrase_docs("keta gera", slop=1),
    "bool_docs_msm": lambda rd: rd.bool_docs(
        should=["keta", "gera", "the"], minimum_should_match=2
    ),
}


@pytest.fixture(scope="module")
def tomb_pos_reader(spark, pos_reader, tmp_path_factory):
    """A copy of ``pos_reader``'s index with docs in several segments
    tombstoned."""
    import shutil

    from aether_elasticsearch_consumer_spark.plans.tombstones import (
        apply_deletes,
    )

    idx = tmp_path_factory.mktemp("planprops_pos_del") / "idx"
    shutil.copytree(pos_reader.dir, idx)
    apply_deletes(spark, str(idx), [0, 17, 40, 41, 150, 299])
    return IndexReader(spark, str(idx))


@pytest.mark.parametrize(
    "case", list(DECODE_OPS) + [f"{op}-tomb" for op in DECODE_OPS]
)
def test_decode_plan_prunes_one_segment_exchange(request, case):
    """Every posting-decode operator plans the one pruned scan (directory
    pruning on term_bucket) and exactly one exchange by segment, then the
    per-task Arrow step (19 segments: a multi-task exchange width). A
    tombstoned reader plans the same: dead ids are masked per segment in
    the task, so no plan joins or sorts. Only the minimum_should_match
    clause count adds exchanges, for its own count-distinct aggregate on
    top."""
    op, _, tomb = case.partition("-")
    rd = request.getfixturevalue("tomb_pos_reader" if tomb else "pos_reader")
    assert rd.has_deletes == bool(tomb)
    plan = _plan(DECODE_OPS[op](rd))
    assert "PartitionFilters" in plan
    assert "term_bucket" in plan.split("PartitionFilters")[1][:200]
    assert plan.count("Exchange hashpartitioning(segment_id") == 1
    assert "MapInArrow" in plan
    for node in ("Join", "FlatMapGroupsInPandas", "Sort"):
        assert node not in plan, node
    if op != "bool_docs_msm":
        assert plan.count("Exchange") == 1


def _exchange_width(df) -> int:
    """Task count of a plan's one segment exchange (1 = SinglePartition)."""
    m = re.search(
        r"Exchange (?:SinglePartition|hashpartitioning\(segment_id#\w+, (\d+)\))",
        _plan(df),
    )
    return int(m[1] or 1)


def test_segment_exchange_width_follows_work(spark, pos_reader, monkeypatch):
    """The scorer's segment exchange takes one task per
    ``_DF_PER_SCORE_TASK`` postings of the query terms; every decode
    operator's one per ``_SEGMENTS_PER_DECODE_TASK`` segments, whatever
    its terms' df; both capped at the segment count (19 here) and the
    cluster width."""
    monkeypatch.setattr(topk, "_DRIVER_SCORE_MAX_DF", 0)
    rd = pos_reader
    n_seg = -(-rd.N // rd.dps)
    cap = min(spark.sparkContext.defaultParallelism, n_seg)
    sum_df = sum(rd.term_dfs(["the", "keta"]).values())
    assert n_seg == 19 and sum_df > cap
    for per, want in [(sum_df, 1), (-(-sum_df // 2), 2), (1, cap)]:
        monkeypatch.setattr(topk, "_DF_PER_SCORE_TASK", per)
        assert _exchange_width(rd.search("the keta", k=5)) == want, per
        assert _exchange_width(rd.score_matches("the keta")) == want, per
    per_decode = topk._SEGMENTS_PER_DECODE_TASK
    for per, want in [
        (per_decode, min(cap, -(-n_seg // per_decode))), (n_seg, 1), (1, cap)
    ]:
        monkeypatch.setattr(topk, "_SEGMENTS_PER_DECODE_TASK", per)
        assert _exchange_width(rd.match_docs("the keta", "or")) == want
        assert _exchange_width(rd.term_positions("keta")) == want
        assert _exchange_width(rd.phrase_docs("the keta")) == want


def test_bucket_pruning_reads_file_subset(reader):
    # driver-side xxhash64 pruning: a single-term query's candidate files
    # must be a strict subset of the postings files (1/B of directories)
    terms = ["keta"]
    buckets = reader._buckets_for(terms)
    import glob

    all_files = glob.glob(str(reader.dir / "postings/data/term_bucket=*/*.parquet"))
    pruned = glob.glob(
        str(reader.dir / f"postings/data/term_bucket={list(buckets.values())[0]}/*.parquet")
    )
    assert 0 < len(pruned) < len(all_files)


def test_ann_query_lists_probed_dirs_only(spark, tmp_path_factory):
    import numpy as np
    from pyspark.sql import functions as F

    from aether_elasticsearch_consumer_spark.plans.ann_index import LshAnnIndex

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = tmp_path_factory.mktemp("annplan")
    idx = LshAnnIndex.build(spark, emb, str(d / "i"), n_planes=16, prefix_bits=6)
    q = np.array(
        emb.where(F.col("vec_id") == 3).collect()[0]["embedding"], dtype=float
    )
    probed = idx.probe_paths(q, max_hamming=1)
    cand = idx.spark.read.option("basePath", str(idx.dir / "data")).parquet(*probed)
    files = cand.inputFiles()
    assert files and all(any(p in f for p in probed) for f in files)
    # and it IS a strict subset of the index
    import glob

    all_files = glob.glob(str(idx.dir / "data/sig_prefix=*/*.parquet"))
    assert len(files) < len(all_files)


def test_docs_sidecar_files_are_docid_sorted(reader):
    """Every docs sidecar file must be internally doc_id-ascending (the
    row-group min/max pruning contract for point lookups). The build gets
    this FOR FREE off the id-assignment exchange — doc_id is monotone in
    the window's (bucket, url) sort — so this pins that no future change
    silently drops the order (or re-adds a payload shuffle to get it)."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(str(reader.dir / "docs/data/*.parquet"))
    assert files
    seen_any = False
    for f in files:
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        assert ids == sorted(ids), f
        seen_any = seen_any or len(ids) > 1
    assert seen_any


def test_no_global_window_in_significant_terms(spark):
    """significant_terms corpus totals must be a broadcast scalar, never a
    partition-less window (which funnels every distinct key through one
    task at high cardinality)."""
    from pyspark.sql import functions as F

    from aether_elasticsearch_consumer_spark.operators.aggregations import (
        significant_terms_agg,
    )

    df = webtext_df(spark, 200, partitions=4)
    plan = _plan(
        significant_terms_agg(df, "lang", F.length("text") > 400, size=5)
    )
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_no_global_window_in_search_phrase(spark, tmp_path_factory):
    """The phrase-df count must be a broadcast scalar, never a global
    window over the (possibly huge) match set."""
    root = tmp_path_factory.mktemp("phraseplan")
    IndexBuilder(
        spark,
        str(root / "idx"),
        docs_per_segment=128,
        term_buckets=8,
        with_positions=True,
    ).build(webtext_df(spark, 300, partitions=4), fingerprint_extra="ppp")
    rd = IndexReader(spark, str(root / "idx"))
    plan = _plan(rd.search_phrase("keta gera", k=5))
    assert "Window" not in plan
    # round-4 compound operators keep the same contracts: pruned
    # postings reads, no global windows, broadcast-sized joins
    for df in (
        rd.phrase_prefix_docs("keta ge", with_freq=True),
        rd.phrase_docs("keta gera", slop=2),
        rd.bool_docs(should=["keta", "gera", "rata"], minimum_should_match=2),
    ):
        p = _plan(df)
        assert "Window" not in p
        assert "PartitionFilters" in p
        assert "term_bucket" in p.split("PartitionFilters")[1][:200]
    for df in (
        rd.boosting_search("keta gera", "rata", 0.4, k=5),
        rd.query_string_search("keta^2 gera", k=5),
    ):
        p = _plan(df)
        assert "Window" not in p


def test_multi_match_reads_only_queried_field_indexes(spark, tmp_path_factory):
    """multi_match's pruning contract: per-field scans keep the
    term_bucket PartitionFilters + pushed term filters of their OWN
    sub-index; the input file set stays inside the root + queried-field
    directories (never an unqueried field's postings); the cross-field
    combine is one hash aggregate — no Window, no sort-merge join."""
    from pyspark.sql import functions as F

    from aether_elasticsearch_consumer_spark.functions.tokenizer import (
        tokenize_col,
    )
    from aether_elasticsearch_consumer_spark.operators.multimatch import (
        MultiFieldIndex,
    )
    from aether_elasticsearch_consumer_spark.plans.multi_field import (
        build_field_index,
    )

    root = str(tmp_path_factory.mktemp("mmplan") / "idx")
    IndexBuilder(spark, root, docs_per_segment=128, term_buckets=8).build(
        webtext_df(spark, 200, partitions=4), fingerprint_extra="mmp"
    )
    docs = spark.read.parquet(f"{root}/docs/data")
    for fld in ("title", "unused"):
        build_field_index(
            spark, root, fld,
            docs.select(
                "doc_id",
                F.array_join(F.slice(tokenize_col("text"), 1, 5), " ")
                .alias("text"),
            ),
            docs_per_segment=128, term_buckets=8, fingerprint_extra=fld,
        )
    mf = MultiFieldIndex(spark, root)
    q = mf.multi_match(
        "keta gera", {"title": 2.0, "text": 1.0},
        mode="best_fields", tie_breaker=0.3, k=5,
    )
    plan = _plan(q)
    assert "Window" not in plan and "SortMergeJoin" not in plan
    # one pruned postings scan per queried field (root + title); the
    # doclens sidecar scans legitimately carry no partition filter
    pruned = [
        seg for seg in plan.split("PartitionFilters")[1:]
        if "term_bucket" in seg[:200]
    ]
    assert len(pruned) >= 2
    postings_files = [f for f in q.inputFiles() if "/postings/" in f]
    assert postings_files
    assert all("/fields/unused/" not in f for f in postings_files)
    assert any("/fields/title/" in f for f in postings_files)


def test_has_child_pushes_child_filter_and_aggregates_ids_only(spark):
    """has_child's scale contract: the child predicate reaches the child
    parquet scan (PushedFilters), the child→parent fold is a hash
    aggregate with a map-side partial (partial_count), and the parent
    attach is a broadcast/hash semi-join — no nested-loop, no Window."""
    from pyspark.sql import functions as F

    from aether_elasticsearch_consumer_spark.registry import (
        _orders_with_join,
    )
    from aether_elasticsearch_consumer_spark.operators.joinquery import (
        has_child,
    )

    sf = "/root/testdata/sf0.001"
    parents = spark.read.parquet(f"{sf}/customer.parquet")
    out = has_child(
        parents, _orders_with_join(spark, sf),
        parent_key="c_custkey", child_type="order",
        match=F.col("o_totalprice") > 450000, min_children=2,
    )
    plan = _plan(out)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = plan.split("PushedFilters")
    assert any("o_totalprice" in seg[:400] for seg in pushed[1:])
    assert "partial_count" in plan  # map-side combine on the parent-id fold
    assert "LeftSemi" in plan
