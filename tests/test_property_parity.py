"""Property-based oracle parity (SURVEY.md §5): randomized small corpora
and queries — the distributed naive scorer must rank-match the pure-Python
oracle on arbitrary inputs, not just the fixed webtext fixture."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aether_elasticsearch_consumer_spark.operators.topk import naive_bm25_topk
from aether_elasticsearch_consumer_spark.oracle.engine import (
    build_oracle_index,
    score_query,
)

# small vocab forces heavy term overlap → exercises ties and df edge cases
WORDS = ["ape", "bee", "cat", "dog", "elk", "fox", "gnu", "hen"]
doc_strategy = st.lists(st.sampled_from(WORDS), min_size=0, max_size=30).map(" ".join)
corpus_strategy = st.lists(doc_strategy, min_size=1, max_size=12)
query_strategy = st.lists(st.sampled_from(WORDS + ["zzz"]), min_size=1, max_size=4).map(" ".join)


@pytest.mark.slow
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpus_strategy, query=query_strategy, k=st.integers(1, 6))
def test_naive_matches_oracle_on_random_corpora(spark, corpus, query, k):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    got = [
        (r["doc_id"], r["score"])
        for r in naive_bm25_topk(docs, query, k=k).collect()
    ]
    oracle = build_oracle_index(list(enumerate(corpus)))
    want = score_query(oracle, query, k=k)
    assert [g[0] for g in got] == [w[0] for w in want], (corpus, query, k)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, abs=1e-9)


class TestPositionCodecProperty:
    """Positions round-trip: encode (absolute-at-posting-start, gap-1
    within) → block blobs → decode must reproduce the original offsets for
    arbitrary posting shapes."""

    @given(
        st.lists(
            st.lists(st.integers(0, 1 << 19), min_size=1, max_size=20,
                     unique=True),
            min_size=1, max_size=30,
        )
    )
    @settings(max_examples=60, deadline=None)
    def test_roundtrip(self, postings):
        import numpy as np

        from aether_elasticsearch_consumer_spark.functions.codec import (
            varbyte_encode_with_lengths,
        )
        from aether_elasticsearch_consumer_spark.operators.topk import (
            _decode_positions_batch,
        )

        postings = [sorted(p) for p in postings]
        tfs = np.array([len(p) for p in postings], dtype=np.int64)
        flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in postings])
        starts = np.zeros(len(tfs), dtype=np.int64)
        np.cumsum(tfs[:-1], out=starts[1:])
        prev = np.empty(len(flat), dtype=np.int64)
        prev[0] = 0
        prev[1:] = flat[:-1]
        is_start = np.zeros(len(flat), dtype=bool)
        is_start[starts] = True
        vals = np.where(is_start, flat, flat - prev - 1)
        buf, _ = varbyte_encode_with_lengths(vals)
        got = _decode_positions_batch({"positions": [bytes(buf)]}, tfs)
        assert got.tolist() == flat.tolist()
