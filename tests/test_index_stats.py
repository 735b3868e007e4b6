"""The index stats row (plans/index_stats.py).

Contracts:
- a stats row without a format-v4 column fails with ``IndexFormatError``
  naming the directory and the missing columns, in the reader, the merge
  and the compaction alike;
- a delta build given no layout kwargs takes its base's whole layout
  (docs_per_segment, term_buckets, profile, positions): an upsert onto a
  positional base merges, and its phrases match the live corpus;
- ``index_health`` reports the bound scale the reader applies over the
  live docs, and deciding a compaction runs no Spark job.
"""

from __future__ import annotations

import shutil

import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py
from aether_elasticsearch_consumer_spark.operators.topk import IndexReader
from aether_elasticsearch_consumer_spark.plans.compaction import (
    compaction_due,
    index_health,
)
from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder
from aether_elasticsearch_consumer_spark.plans.index_stats import (
    IndexFormatError,
    read_stats,
)
from aether_elasticsearch_consumer_spark.plans.live_pointer import (
    commit_live_pointer,
)
from aether_elasticsearch_consumer_spark.plans.segments import merge_indexes
from aether_elasticsearch_consumer_spark.plans.tombstones import (
    apply_deletes,
    compact_index,
    upsert_index,
)

KW = dict(docs_per_segment=64, term_buckets=4, with_positions=True)


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A 300-doc positional index."""
    d = tmp_path_factory.mktemp("idxstats") / "base"
    IndexBuilder(spark, str(d), **KW).build(
        webtext_df(spark, 300, partitions=4), fingerprint_extra="stats300"
    )
    return d


@pytest.fixture(scope="module")
def tomb(spark, base, tmp_path_factory):
    """A copy of ``base`` with its 60 shortest docs tombstoned: the live
    avgdl rises past the build avgdl."""
    d = tmp_path_factory.mktemp("idxstats_tomb") / "idx"
    shutil.copytree(base, d)
    shortest = [
        r["doc_id"]
        for r in spark.read.parquet(str(d / "docs/data"))
        .orderBy("doc_len", "doc_id")
        .limit(60)
        .collect()
    ]
    apply_deletes(spark, str(d), shortest)
    return d


def _live_docs(spark, idx: str) -> list[tuple[int, str]]:
    dead = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/deletes/doc_ids/data").collect()
    }
    return [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(f"{idx}/docs/data")
        .select("doc_id", "text")
        .collect()
        if r["doc_id"] not in dead
    ]


def _scan_phrase(docs: list[tuple[int, str]], phrase: str) -> set[int]:
    terms = tokenize_py(phrase)
    return {
        doc_id
        for doc_id, text in docs
        if any(
            toks[i : i + len(terms)] == terms
            for toks in [tokenize_py(text)]
            for i in range(len(toks) - len(terms) + 1)
        )
    }


def test_read_stats_gives_the_build_layout(base):
    st = read_stats(base)
    assert st.layout() == {
        "docs_per_segment": 64, "term_buckets": 4, "profile": "ascii",
        "with_positions": True,
    }
    assert st.N == 300 and st.build_avgdl == st.avgdl > 0


def _strip_v4_columns(idx) -> None:
    """Rewrite an index's stats row without build_avgdl and positions."""
    data = idx / "stats" / "data"
    tbl = ds.dataset(str(data), format="parquet").to_table()
    for f in data.glob("*.parquet"):
        f.unlink()
    pq.write_table(
        tbl.drop_columns(["build_avgdl", "positions"]),
        str(data / "part-0.parquet"),
    )


@pytest.mark.parametrize("op", ["reader", "merge", "compact"])
def test_pre_v4_index_fails_with_named_error(spark, base, tmp_path, op):
    old = tmp_path / "old"
    shutil.copytree(base, old)
    _strip_v4_columns(old)
    call = {
        "reader": lambda: IndexReader(spark, str(old)),
        "merge": lambda: merge_indexes(
            spark, str(base), str(old), str(tmp_path / "merged")
        ),
        "compact": lambda: compact_index(
            spark, str(old), str(tmp_path / "compacted")
        ),
    }[op]
    with pytest.raises(IndexFormatError) as err:
        call()
    assert str(old) in str(err.value)
    assert "'build_avgdl', 'positions'" in str(err.value)


def test_upsert_without_kwargs_takes_the_base_layout(spark, base, tmp_path):
    """An upsert that names no layout builds its delta in the base's,
    instead of the builder's defaults (segment size, no positions) that
    the offset alignment check or the merge then rejects."""
    gen0 = tmp_path / "gen0"
    shutil.copytree(base, gen0)
    live = tmp_path / "live"
    commit_live_pointer(live, gen0)
    old = (
        spark.read.parquet(str(base / "docs/data"))
        .orderBy("doc_id")
        .limit(5)
    )
    wave = old.select(
        "url", F.concat(F.lit("zanzibar quorum flotilla "), "text").alias("text")
    )
    p = upsert_index(spark, str(live), str(tmp_path / "wk"), wave, "w1")
    assert read_stats(p).layout() == read_stats(base).layout()
    rd = IndexReader(spark, p)
    assert rd.N == 300
    docs = _live_docs(spark, p)
    # the first upserted doc's opening pair matches its stale version too,
    # which must not surface
    first = " ".join(tokenize_py(old.collect()[0]["text"])[:2])
    for phrase in ["zanzibar quorum", "quorum flotilla", first]:
        got = {r["doc_id"] for r in rd.phrase_docs(phrase).collect()}
        assert got == _scan_phrase(docs, phrase), phrase
        assert got, phrase


def test_health_bound_scale_is_the_readers(spark, tomb):
    rd = IndexReader(spark, str(tomb))
    h = index_health(spark, str(tomb))
    assert rd.bound_scale > 1.0
    assert h["bound_scale"] == rd.bound_scale
    assert h["live_docs"] == rd.N == 240 and h["tombstoned"] == 60
    assert h["n_segments"] == 5


def test_compaction_due_runs_no_spark_job(spark, jobs_in, tomb):
    out = []
    assert jobs_in(lambda: out.append(compaction_due(spark, str(tomb)))) == 0
    assert out[0]["delete_ratio"] == 0.2 and out[0]["due"]
