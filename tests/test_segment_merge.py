"""Incremental indexing: delta build at a doc-id offset + metadata-only
segment merge (X6) must be search-equivalent to a monolithic rebuild.

Also: a delta with no tokens at all merges and leaves the base's bound
inflation intact; the delta offset is read from the docs footers (no Spark
job), counts tombstoned ids, and a footer without doc_id statistics fails
with ``IndexFormatError``."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py
from aether_elasticsearch_consumer_spark.operators.topk import IndexReader
from aether_elasticsearch_consumer_spark.oracle.engine import (
    build_oracle_index,
    score_query,
)
from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder
from aether_elasticsearch_consumer_spark.plans.index_stats import (
    IndexFormatError,
    read_stats,
)
from aether_elasticsearch_consumer_spark.plans.segments import (
    merge_indexes,
    next_doc_id_offset,
)
from aether_elasticsearch_consumer_spark.plans.tombstones import apply_deletes

DPS = 256
TB = 8


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("merge")
    # base: docs 0..599, delta: docs 600..799 of the same deterministic
    # stream (disjoint url sets)
    full = webtext_df(spark, 800, partitions=8).cache()
    base_src = full.where("url like '%page-000000%' or url like '%page-0000010%'")
    # simpler split: first 600 vs last 200 by the page number embedded in url
    page = "cast(substring(url, length(url) - 7, 8) as int)"
    base_src = full.where(f"{page} < 600")
    delta_src = full.where(f"{page} >= 600")

    b = IndexBuilder(spark, str(root / "base"), docs_per_segment=DPS, term_buckets=TB)
    b.build(base_src, fingerprint_extra="base800")
    off = next_doc_id_offset(str(root / "base"))
    assert off % DPS == 0 and off >= 600
    d = IndexBuilder(
        spark, str(root / "delta"), docs_per_segment=DPS, term_buckets=TB,
        doc_id_offset=off,
    )
    d.build(delta_src, fingerprint_extra="delta800")
    merge_indexes(spark, str(root / "base"), str(root / "delta"), str(root / "merged"))
    full.unpersist()
    return str(root / "merged")


def test_merged_stats(spark, merged):
    st = spark.read.parquet(f"{merged}/stats/data").collect()[0]
    assert st["N"] == 800


def _assert_search_matches_oracle(spark, idx: str, dead=()) -> None:
    docs = (
        spark.read.parquet(f"{idx}/docs/data")
        .select("doc_id", "text")
        .toPandas()
    )
    oracle = build_oracle_index(
        [(i, t) for i, t in zip(docs["doc_id"], docs["text"]) if i not in dead]
    )
    reader = IndexReader(spark, idx)
    for q in ["the", "ba ke", "keta gera rare", "zzznope"]:
        got = [(r["doc_id"], r["score"]) for r in reader.search(q, k=10).collect()]
        want = score_query(oracle, q, k=10)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_merged_search_matches_oracle(spark, merged):
    _assert_search_matches_oracle(spark, merged)


def test_merge_is_idempotent(spark, merged, tmp_path_factory):
    # re-running the merge with the same fingerprint is a no-op
    base = merged.replace("merged", "base")
    delta = merged.replace("merged", "delta")
    m2 = merge_indexes(spark, base, delta, merged)
    assert all("fingerprint" in v for v in m2.values())


def test_layout_mismatch_rejected(spark, merged, tmp_path_factory):
    root = tmp_path_factory.mktemp("mismatch")
    other = IndexBuilder(
        spark, str(root / "other"), docs_per_segment=DPS * 2, term_buckets=TB
    )
    other.build(webtext_df(spark, 50, partitions=2), fingerprint_extra="o")
    with pytest.raises(ValueError):
        merge_indexes(spark, merged.replace("merged", "base"),
                      str(root / "other"), str(root / "x"))


def test_empty_text_delta_merges(spark, tmp_path):
    """A delta whose docs all have empty text writes no postings or
    term_stats files; the merge still runs and searches like the oracle."""
    page = "cast(substring(url, length(url) - 7, 8) as int)"
    src = webtext_df(spark, 103, partitions=2)
    IndexBuilder(spark, str(tmp_path / "base"), docs_per_segment=DPS,
                 term_buckets=TB).build(src.where(f"{page} < 100"),
                                        fingerprint_extra="empty-base")
    off = next_doc_id_offset(str(tmp_path / "base"))
    IndexBuilder(spark, str(tmp_path / "delta"), docs_per_segment=DPS,
                 term_buckets=TB, doc_id_offset=off).build(
        src.where(f"{page} >= 100").withColumn("text", F.lit("")),
        fingerprint_extra="empty-delta",
    )
    for sub in ("postings", "term_stats"):
        assert not list((tmp_path / "delta" / sub).rglob("*.parquet"))
    out = str(tmp_path / "merged")
    merge_indexes(spark, str(tmp_path / "base"), str(tmp_path / "delta"), out)
    assert spark.read.parquet(f"{out}/stats/data").collect()[0]["N"] == 103
    _assert_search_matches_oracle(spark, out)

    # the empty side takes no part in the merged build_avgdl: once the
    # shortest docs are deleted, the live avgdl exceeds the base's build
    # avgdl and the reader must still inflate the base's stored bounds
    base_build = read_stats(tmp_path / "base").build_avgdl
    assert read_stats(out).build_avgdl == base_build > 0
    docs = spark.read.parquet(f"{out}/docs/data").select("doc_id", "text").collect()
    lens = {r["doc_id"]: len(tokenize_py(r["text"])) for r in docs}
    dead = set(sorted(lens, key=lambda i: (lens[i], i))[:33])
    apply_deletes(spark, out, sorted(dead))
    live = [n for i, n in lens.items() if i not in dead]
    rd = IndexReader(spark, out)
    assert rd.bound_scale == pytest.approx(sum(live) / len(live) / base_build)
    assert rd.bound_scale > 1.0
    _assert_search_matches_oracle(spark, out, dead)


def test_next_doc_id_offset_reads_footers(spark, jobs_in, merged, tmp_path):
    """0 Spark jobs, and tombstoned ids count: with every delta doc
    deleted, the live max would give a smaller offset."""
    idx = str(tmp_path / "idx")
    shutil.copytree(merged, idx)
    apply_deletes(spark, idx, list(range(768, 968)))
    m = spark.read.parquet(f"{idx}/docs/data").agg(F.max("doc_id")).first()[0]
    want = (m // DPS + 1) * DPS  # the Spark aggregate the footers replace
    assert want == 1024
    got = []
    assert jobs_in(lambda: got.append(next_doc_id_offset(idx))) == 0
    assert got == [want]


def test_next_doc_id_offset_needs_statistics(merged, tmp_path):
    idx = tmp_path / "idx"
    shutil.copytree(merged, idx)
    f = sorted((idx / "docs/data").glob("*.parquet"))[0]
    pq.write_table(pq.read_table(f), f, write_statistics=False)
    with pytest.raises(IndexFormatError, match="no doc_id statistics"):
        next_doc_id_offset(str(idx))
