"""search_after pagination, field collapse, more_like_this.

Contracts:
- cursor paging tiles the full ranking exactly (pages concatenated ==
  one big top-k; no dup, no gap), including page boundaries inside 9-dp
  score ties;
- collapse returns the per-key leaders of the EXHAUSTIVE match set;
- more_like_this term selection follows the documented tf·idf rule and
  retrieval drops the seed; the seed doc's read starts no Spark job.
All verified against direct python evaluation over the same corpus.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
from aether_elasticsearch_consumer_spark.functions.bm25 import idf_np
from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py
from aether_elasticsearch_consumer_spark.operators.topk import IndexReader
from aether_elasticsearch_consumer_spark.oracle.engine import (
    build_oracle_index,
    score_query,
)
from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder


@pytest.fixture(scope="module")
def xidx(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("xtras")
    src = webtext_df(spark, 400, partitions=4)
    IndexBuilder(
        spark, str(root / "idx"), docs_per_segment=128, term_buckets=8
    ).build(src, fingerprint_extra="xtras400")
    docs = [
        (r["doc_id"], r["text"], r["lang"])
        for r in spark.read.parquet(str(root / "idx/docs/data"))
        .select("doc_id", "text", "lang")
        .collect()
    ]
    oracle = build_oracle_index([(i, t) for i, t, _ in docs])
    return IndexReader(spark, str(root / "idx")), docs, oracle


def test_cursor_pages_tile_the_ranking(xidx):
    rd, docs, oracle = xidx
    q = "the keta gera"  # head term → many matches, real tie structure
    want = score_query(oracle, q, k=30)
    page1 = [(r["doc_id"], r["score"]) for r in rd.search(q, k=10).collect()]
    assert page1 == want[:10]
    pages = list(page1)
    for _ in range(2):
        s, d = pages[-1][1], pages[-1][0]
        nxt = [
            (r["doc_id"], r["score"])
            for r in rd.search_after(q, s, d, k=10).collect()
        ]
        pages += nxt
    assert pages == want[:30]
    assert len({d for d, _ in pages}) == 30  # no dup, no gap


def test_cursor_page_through_tie_boundary(xidx):
    rd, docs, oracle = xidx
    # single stopword: masses of equal 9-dp scores — page boundaries land
    # INSIDE tie groups, exercising the (score, doc_id) composite cursor
    q = "the"
    want = score_query(oracle, q, k=40)
    got = []
    cursor = None
    while len(got) < 40:
        page = (
            rd.search(q, k=8)
            if cursor is None
            else rd.search_after(q, cursor[1], cursor[0], k=8)
        )
        rows = [(r["doc_id"], r["score"]) for r in page.collect()]
        assert rows, "premature exhaustion"
        got += rows
        cursor = rows[-1]
    assert got[:40] == want


def test_collapse_leaders_match_python(xidx):
    rd, docs, oracle = xidx
    q = "keta gera"
    scored = dict(score_query(oracle, q, k=10**9))
    best = {}
    for i, _, lang in docs:
        if i in scored:
            cand = (-scored[i], i)
            if lang not in best or cand < best[lang]:
                best[lang] = cand
    want = {(lang, i, -s) for lang, (s, i) in best.items()}
    keys = rd.spark.createDataFrame(
        [(i, lang) for i, _, lang in docs], "doc_id long, lang string"
    )
    got = {
        (r["lang"], r["doc_id"], r["score"])
        for r in rd.collapse_top_hits(q, keys, "lang").collect()
    }
    assert got == want and len(got) >= 3


def test_more_like_this_matches_python(xidx):
    rd, docs, oracle = xidx
    seed = docs[5][0]
    toks = Counter(
        t for t in __import__(
            "aether_elasticsearch_consumer_spark.functions.tokenizer",
            fromlist=["tokenize_py"],
        ).tokenize_py(docs[5][1])
    )
    ranked = sorted(
        (-round(c * float(idf_np(oracle.N, oracle.df(t))), 6), t)
        for t, c in toks.items()
    )[:10]
    terms = [t for _, t in ranked]
    want = [
        (d, s)
        for d, s in score_query(oracle, " ".join(terms), k=11)
        if d != seed
    ][:10]
    got = [
        (r["doc_id"], r["score"])
        for r in rd.more_like_this(seed, max_query_terms=10, k=10).collect()
    ]
    assert got == want and got


def test_seed_doc_read_runs_no_spark_job(jobs_in, xidx):
    """The seed doc's terms are a pyarrow point read of the docs sidecar:
    building ``more_like_this`` (seed read, tf·idf selection and a search
    under the driver-side cap) and ``term_vectors`` starts no Spark job,
    and an id the index never held is still a named error."""
    rd, docs, _ = xidx
    seed, text, _ = docs[5]
    frames = []
    assert jobs_in(lambda: frames.append(rd.more_like_this(seed))) == 0
    assert jobs_in(lambda: frames.append(rd.term_vectors(seed))) == 0
    tf = Counter(tokenize_py(text))
    assert [(r["term"], r["tf"]) for r in frames[1].collect()] == sorted(
        tf.items()
    )
    with pytest.raises(ValueError, match="not in index"):
        rd.more_like_this(10**9)


def test_boosting_and_function_score_match_python(spark, xidx):
    """ES boosting + function_score compound scorers vs direct python
    replication of the documented ladders; both must provably reorder
    the ranking vs plain OR scoring for the test to mean anything."""
    from collections import defaultdict

    from pyspark.sql import functions as F
    from aether_elasticsearch_consumer_spark.functions.tokenizer import (
        tokenize_py,
    )

    rd, docs, oracle = xidx

    def r9(x):
        # Spark F.round = HALF_UP on the shortest decimal repr
        # (BigDecimal.valueOf); python round() is half-even — differs at
        # exact 9-dp halfway products like s * 0.3
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    def or_scores(terms):
        total = defaultdict(float)
        for t in terms:
            for d, s in score_query(oracle, t, k=10**9):
                total[d] += s
        return {d: round(s, 9) for d, s in total.items()}

    pos = or_scores(["keta", "gera"])
    plain0 = sorted(pos.items(), key=lambda kv: (-kv[1], kv[0]))
    toks_by_id = {i: set(tokenize_py(t)) for i, t, _ in docs}
    # a negative term held by the leader but not the runner-up: demoting
    # it guarantees the ranking actually changes
    neg_term = sorted(
        toks_by_id[plain0[0][0]] - toks_by_id[plain0[1][0]] - {"keta", "gera"}
    )[0]
    neg = {i for i, t, _ in docs if neg_term in toks_by_id[i]}
    want = sorted(
        ((d, r9(s * (0.3 if d in neg else 1.0))) for d, s in pos.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = [
        (r["doc_id"], r["score"])
        for r in rd.boosting_search("keta gera", neg_term, 0.3, k=10).collect()
    ]
    assert got == want and got
    plain = sorted(pos.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert [d for d, _ in got] != [d for d, _ in plain], "no demotion happened"

    # function_score: factor = sqrt(analyzed length), missing impossible
    lens = {i: float(len(tokenize_py(t))) for i, t, _ in docs}
    import math

    wantf = sorted(
        ((d, r9(s * math.sqrt(lens[d]))) for d, s in pos.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    factors = spark.createDataFrame(
        [(d, math.sqrt(l)) for d, l in lens.items()], "doc_id long, factor double"
    )
    gotf = [
        (r["doc_id"], r["score"])
        for r in rd.function_score_search("keta gera", factors, k=10).collect()
    ]
    assert gotf == wantf and gotf
    assert [d for d, _ in gotf] != [d for d, _ in plain], "factor inert"
