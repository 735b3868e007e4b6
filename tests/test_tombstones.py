"""Index-level delete/update (tombstones) — plans/tombstones.py.

Contract (reference parity: artifacts.py:513-550 upsert semantics carried
through the inverted index): after ``apply_deletes`` / ``upsert_index``,
every query path — scored search, boolean match, phrase, positions —
behaves EXACTLY as an index built from scratch over the live corpus:
same doc ids, same 9-dp BM25 scores, same ranks. Stale postings never
surface; stats (N, avgdl, per-term df) are post-delete exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
from aether_elasticsearch_consumer_spark.operators.topk import IndexReader
from aether_elasticsearch_consumer_spark.oracle.engine import (
    build_oracle_index,
    score_query,
)
from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder
from aether_elasticsearch_consumer_spark.plans.tombstones import (
    apply_deletes,
    compact_index,
    has_deletes,
    upsert_index,
)

KW = dict(docs_per_segment=64, term_buckets=4, with_positions=True)
DEAD = [3, 7, 64, 65, 130, 199, 255, 256, 300, 399]


@pytest.fixture(scope="module")
def tomb(spark, tmp_path_factory):
    """One 400-doc positional index with 10 tombstoned docs, plus the
    live-doc list for oracles."""
    root = tmp_path_factory.mktemp("tomb")
    src = webtext_df(spark, 400, partitions=4)
    IndexBuilder(spark, str(root / "idx"), **KW).build(
        src, fingerprint_extra="tomb400"
    )
    apply_deletes(spark, str(root / "idx"), DEAD)
    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(root / "idx/docs/data"))
        .select("doc_id", "text")
        .collect()
    ]
    live = [(i, t) for i, t in docs if i not in set(DEAD)]
    return root, IndexReader(spark, str(root / "idx")), live


def test_live_stats_exact(spark, tomb):
    _, rd, live = tomb
    assert rd.N == 390
    from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py

    lens = [len(tokenize_py(t)) for _, t in live]
    assert rd.avgdl == pytest.approx(sum(lens) / len(lens), abs=1e-12)


def test_search_matches_live_corpus_oracle(spark, tomb):
    """The strongest form: tombstoned-index BM25 == exhaustive BM25 over
    the live corpus only — ids, ranks, AND 9-dp scores."""
    _, rd, live = tomb
    oracle = build_oracle_index(live)
    for q in ["keta", "keta gera", "the", "ba ke zo ri"]:
        got = [(r["doc_id"], r["score"]) for r in rd.search(q, k=10).collect()]
        assert got == score_query(oracle, q, k=10), q


def test_deleted_never_surface_in_any_path(spark, tomb):
    _, rd, live = tomb
    dead = set(DEAD)
    ids = {r["doc_id"] for r in rd.match_docs("the", "or").collect()}
    assert ids and not (ids & dead)
    ids = {r["doc_id"] for r in rd.phrase_docs("ba ke").collect()}
    assert not (ids & dead)
    ids = {r["doc_id"] for r in rd.term_positions("keta").collect()}
    assert ids and not (ids & dead)
    ids = {
        r["doc_id"]
        for r in rd.bool_docs(must=["the"], must_not=["keta"]).collect()
    }
    assert ids and not (ids & dead)


def _all_docs(spark, root) -> list[tuple[int, str]]:
    return [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(root / "idx/docs/data"))
        .select("doc_id", "text")
        .collect()
    ]


def test_term_freqs_match_live_corpus(spark, tomb):
    """term_freqs on a tombstoned reader: exactly the live corpus's
    (doc_id, term, tf) triples, though deleted docs hold the terms too."""
    from collections import Counter

    from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py

    root, rd, live = tomb
    terms = ["keta", "gera", "the", "zzabsent"]

    def triples(docs):
        return sorted(
            (i, t, c)
            for i, text in docs
            for t, c in Counter(tokenize_py(text, rd.profile)).items()
            if t in terms
        )

    want = triples(live)
    assert len(triples(_all_docs(spark, root))) > len(want) > 0
    got = sorted(
        (r["doc_id"], r["term"], r["tf"])
        for r in rd.term_freqs(terms).collect()
    )
    assert got == want


def test_bool_docs_minimum_should_match_live_corpus(spark, tomb):
    """bool_docs with minimum_should_match=2 on a tombstoned reader: the
    live docs matching at least two distinct should clauses (a clause that
    analyzes to two terms counts once), never a deleted one."""
    from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py

    root, rd, live = tomb
    should = ["gegege", "katolifu", "jitare chme"]
    clauses = [set(tokenize_py(c, rd.profile)) for c in should]

    def matching(docs):
        return sorted(
            i
            for i, text in docs
            if sum(bool(c & set(tokenize_py(text, rd.profile))) for c in clauses)
            >= 2
        )

    want = matching(live)
    assert set(matching(_all_docs(spark, root))) & set(DEAD)
    got = sorted(
        r["doc_id"]
        for r in rd.bool_docs(should=should, minimum_should_match=2).collect()
    )
    assert want and got == want


def test_term_dfs_post_delete_exact(spark, tomb):
    _, rd, live = tomb
    from collections import Counter

    from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py

    want = Counter()
    for _, t in live:
        for term in set(tokenize_py(t)):
            want[term] += 1
    got = rd.term_dfs(["keta", "the", "gera"])
    for term, df in got.items():
        assert df == want[term], term


def test_apply_deletes_idempotent(spark, tomb):
    root, rd, live = tomb
    m1 = apply_deletes(spark, str(root / "idx"), DEAD)
    # same cumulative set → same fingerprint → staged commit skipped
    m2 = apply_deletes(spark, str(root / "idx"), DEAD[:3])
    assert m1["fingerprint"] == m2["fingerprint"]
    assert IndexReader(spark, str(root / "idx")).N == 390


def test_merge_carries_tombstones(spark, tomb, tmp_path):
    """base(with deletes) + delta → merged keeps exact live semantics."""
    from aether_elasticsearch_consumer_spark.plans.segments import (
        merge_indexes,
        next_doc_id_offset,
    )

    root, _, live = tomb
    off = next_doc_id_offset(str(root / "idx"))
    src2 = webtext_df(spark, 430, partitions=2).where(
        "cast(substring(url, length(url) - 7, 8) as int) >= 400"
    )
    IndexBuilder(spark, str(tmp_path / "d"), doc_id_offset=off, **KW).build(
        src2, fingerprint_extra="tombdelta"
    )
    merge_indexes(spark, str(root / "idx"), str(tmp_path / "d"), str(tmp_path / "m"))
    rd = IndexReader(spark, str(tmp_path / "m"))
    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(tmp_path / "m/docs/data"))
        .select("doc_id", "text")
        .collect()
    ]
    live_m = [(i, t) for i, t in docs if i not in set(DEAD)]
    assert rd.N == len(live_m)
    oracle = build_oracle_index(live_m)
    for q in ["keta gera", "the"]:
        got = [(r["doc_id"], r["score"]) for r in rd.search(q, k=10).collect()]
        assert got == score_query(oracle, q, k=10), q


def test_compact_drops_dead_postings(spark, tomb, tmp_path):
    root, rd, live = tomb
    compact_index(spark, str(root / "idx"), str(tmp_path / "c"))
    rc = IndexReader(spark, str(tmp_path / "c"))
    assert not has_deletes(tmp_path / "c")
    assert rc.N == rd.N
    for q in ["keta gera", "the"]:
        assert rc.search(q, k=10).collect() == rd.search(q, k=10).collect()
    # physically gone: no posting row decodes to a dead doc
    ids = {r["doc_id"] for r in rc.match_docs("the", "or").collect()}
    all_docs = {
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "c/docs/data")).collect()
    }
    assert not (all_docs & set(DEAD))
    assert ids <= all_docs


def test_upsert_replaces_postings(spark, tmp_path):
    """The reference's upsert semantics end-to-end: wave 2 re-ingests 5
    existing urls with NEW text; the old postings must stop matching, the
    new ones must match, and BM25 must equal a live-corpus oracle."""
    src = webtext_df(spark, 200, partitions=2).select("url", "text", "lang")
    live = tmp_path / "live"
    p = upsert_index(spark, str(live), str(tmp_path / "wk"), src, "w1",
                     docs_per_segment=64, term_buckets=4)
    assert IndexReader(spark, p).N == 200

    wave2 = (
        src.orderBy("url")
        .limit(5)
        .select(
            "url",
            F.concat(F.lit("zanzibar quorum flotilla doc "), "url").alias("text"),
            "lang",
        )
    )
    old_texts = {r["url"]: r["text"] for r in src.orderBy("url").limit(5).collect()}
    p2 = upsert_index(spark, str(live), str(tmp_path / "wk"), wave2, "w2",
                      docs_per_segment=64, term_buckets=4)
    rd = IndexReader(spark, p2)
    assert rd.N == 200  # 5 tombstoned + 5 new

    docs = spark.read.parquet(p2 + "/docs/data").select(
        "doc_id", "url", "text"
    ).collect()
    dead = {
        r["doc_id"] for r in docs
        if r["url"] in old_texts and r["text"] == old_texts[r["url"]]
    }
    assert len(dead) == 5
    live_docs = [
        (r["doc_id"], r["text"]) for r in docs if r["doc_id"] not in dead
    ]
    oracle = build_oracle_index(live_docs)
    for q in ["zanzibar quorum", "keta gera", "the"]:
        got = [(r["doc_id"], r["score"]) for r in rd.search(q, k=10).collect()]
        assert got == score_query(oracle, q, k=10), q
    # the stale version's tokens no longer reach any query path
    hits = {r["doc_id"] for r in rd.match_docs("zanzibar", "and").collect()}
    assert len(hits) == 5 and not (hits & dead)
    # replaying the same upsert batch is a no-op (crash-idempotency)
    p3 = upsert_index(spark, str(live), str(tmp_path / "wk"), wave2, "w2",
                      docs_per_segment=64, term_buckets=4)
    assert p3 == p2
    assert IndexReader(spark, p3).N == 200


def test_delete_everything_and_whole_segments(spark, tmp_path):
    """Degenerate tombstone shapes: an entire segment dead (its sidecar
    blob covers every doc), then the whole corpus dead (N_live=0) — no
    division blowups, every query path returns empty."""
    src = webtext_df(spark, 128, partitions=2)
    KW2 = dict(docs_per_segment=32, term_buckets=4, with_positions=True)
    IndexBuilder(spark, str(tmp_path / "i"), **KW2).build(
        src, fingerprint_extra="edge128"
    )
    # kill segment 1 completely (ids 32..63)
    apply_deletes(spark, str(tmp_path / "i"), list(range(32, 64)))
    rd = IndexReader(spark, str(tmp_path / "i"))
    assert rd.N == 96
    hits = {r["doc_id"] for r in rd.match_docs("the", "or").collect()}
    assert hits and not (hits & set(range(32, 64)))
    top = rd.search("keta gera the", k=10).collect()
    assert top and all(r["doc_id"] not in range(32, 64) for r in top)
    # now kill everything
    apply_deletes(spark, str(tmp_path / "i"), list(range(0, 128)))
    rd2 = IndexReader(spark, str(tmp_path / "i"))
    assert rd2.N == 0
    assert rd2.search("the keta", k=10).collect() == []
    assert rd2.match_docs("the", "or").collect() == []
    assert rd2.phrase_docs("ba ke").collect() == []


def test_live_pointer_commit_resolve_and_legacy(spark, tmp_path):
    """The live pointer is a single-object JSON commit (cluster-portable:
    no symlinks on object storage): commit → resolve round-trips, rebind
    is one atomic replace, legacy symlink layouts still resolve, and
    IndexReader opens an index through either pointer form."""
    import json
    import os

    from aether_elasticsearch_consumer_spark.plans.live_pointer import (
        commit_live_pointer,
        resolve_live,
    )

    a, b = tmp_path / "idx_a", tmp_path / "idx_b"
    src = webtext_df(spark, 64, partitions=2)
    IndexBuilder(spark, str(a), docs_per_segment=32, term_buckets=4).build(
        src, fingerprint_extra="ptr-a"
    )
    IndexBuilder(spark, str(b), docs_per_segment=32, term_buckets=4).build(
        src.limit(40), fingerprint_extra="ptr-b"
    )
    live = tmp_path / "live"
    assert resolve_live(live) is None
    commit_live_pointer(live, a)
    assert resolve_live(live) == str(a.resolve())
    assert json.loads(live.read_text())["index_dir"] == str(a.resolve())
    assert IndexReader(spark, str(live)).N == 64  # reader resolves pointer
    # atomic rebind
    commit_live_pointer(live, b)
    assert resolve_live(live) == str(b.resolve())
    assert IndexReader(spark, str(live)).N == 40
    # legacy symlink layout resolves identically (and a commit over it
    # migrates the link to a pointer file in one atomic rename)
    legacy = tmp_path / "legacy_live"
    legacy.symlink_to(a.resolve())
    assert resolve_live(legacy) == str(a.resolve())
    assert IndexReader(spark, str(legacy)).N == 64
    commit_live_pointer(legacy, b)
    assert not os.path.islink(legacy)
    assert resolve_live(legacy) == str(b.resolve())


def test_upsert_crash_window_replay_through_pointer(spark, tmp_path):
    """Crash-replay contract through the pointer commit: if the process
    dies AFTER the merged index is committed to the pointer but before
    the caller records success, re-running the same batch is a no-op
    (pointer already names the batch's output), and a crash BEFORE the
    pointer commit leaves the old index live until the re-run completes."""
    from aether_elasticsearch_consumer_spark.plans.live_pointer import (
        resolve_live,
    )

    src = webtext_df(spark, 80, partitions=2).select("url", "text", "lang")
    live = tmp_path / "live"
    kw = dict(docs_per_segment=32, term_buckets=4)
    p1 = upsert_index(spark, str(live), str(tmp_path / "wk"), src, "w1", **kw)
    wave2 = src.orderBy("url").limit(4).select(
        "url", F.concat(F.lit("replacement body "), "url").alias("text"), "lang"
    )
    p2 = upsert_index(spark, str(live), str(tmp_path / "wk"), wave2, "w2", **kw)
    assert resolve_live(live) == p2 != p1
    # crash AFTER pointer commit: replay short-circuits on the pointer
    p2b = upsert_index(spark, str(live), str(tmp_path / "wk"), wave2, "w2", **kw)
    assert p2b == p2 and resolve_live(live) == p2
    # crash BEFORE pointer commit of a THIRD batch: simulate by rolling
    # the pointer back to p1's output (the merged dir for w3 exists but
    # was never committed) — re-running w3 must rebuild/commit it
    wave3 = src.orderBy("url").limit(2).select(
        "url", F.concat(F.lit("third body "), "url").alias("text"), "lang"
    )
    p3 = upsert_index(spark, str(live), str(tmp_path / "wk"), wave3, "w3", **kw)
    from aether_elasticsearch_consumer_spark.plans.live_pointer import (
        commit_live_pointer,
    )

    commit_live_pointer(live, p2)  # pretend w3's commit never landed
    p3b = upsert_index(spark, str(live), str(tmp_path / "wk"), wave3, "w3", **kw)
    assert p3b == p3 and resolve_live(live) == p3
    assert IndexReader(spark, str(live)).N == 80
