"""Positional postings + index-backed phrase queries.

Contract: ``IndexBuilder(with_positions=True)`` stores per-posting
within-doc token offsets (gap-1 varbyte per block), and
``IndexReader.phrase_docs`` returns exactly the docs whose analyzed token
stream contains the phrase at consecutive positions — verified against a
pure-Python scan of the same tokenizer output.
"""

from __future__ import annotations

import pytest

from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df
from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py
from aether_elasticsearch_consumer_spark.operators.topk import IndexReader
from aether_elasticsearch_consumer_spark.plans.index_build import IndexBuilder


def _scan_phrase(docs: list[tuple[int, str]], phrase: str) -> set[int]:
    terms = tokenize_py(phrase)
    out = set()
    for doc_id, text in docs:
        toks = tokenize_py(text)
        for i in range(len(toks) - len(terms) + 1):
            if toks[i : i + len(terms)] == terms:
                out.add(doc_id)
                break
    return out


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("posidx")
    src = webtext_df(spark, 500, partitions=4)
    b = IndexBuilder(
        spark, str(root / "idx"), docs_per_segment=128, term_buckets=8,
        with_positions=True,
    )
    b.build(src, fingerprint_extra="pos500")
    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(root / "idx/docs/data"))
        .select("doc_id", "text").collect()
    ]
    return IndexReader(spark, str(root / "idx")), docs


def test_stats_flag(pos_index):
    reader, _ = pos_index
    assert reader.positions is True


def test_phrase_matches_scan(pos_index):
    reader, docs = pos_index
    # pick real bigrams/trigrams out of the corpus plus a miss
    toks0 = tokenize_py(docs[0][1])
    bigram = " ".join(toks0[3:5])
    trigram = " ".join(toks0[10:13])
    for phrase in [bigram, trigram, "zzznope keta", "the"]:
        got = {r["doc_id"] for r in reader.phrase_docs(phrase).collect()}
        want = _scan_phrase(docs, phrase)
        assert got == want, phrase


def test_phrase_duplicate_terms(pos_index):
    reader, docs = pos_index
    # find a doc with an immediately repeated token, if the fixture has one;
    # otherwise assert the verifier agrees with the scan anyway
    phrase = None
    for _, text in docs:
        toks = tokenize_py(text)
        for a, b in zip(toks, toks[1:]):
            if a == b:
                phrase = f"{a} {b}"
                break
        if phrase:
            break
    if phrase is None:
        phrase = "ba ba"
    got = {r["doc_id"] for r in reader.phrase_docs(phrase).collect()}
    assert got == _scan_phrase(docs, phrase), phrase


def test_phrase_requires_positions(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("nopos")
    b = IndexBuilder(spark, str(root / "idx"), docs_per_segment=64, term_buckets=4)
    b.build(webtext_df(spark, 50, partitions=2), fingerprint_extra="np")
    reader = IndexReader(spark, str(root / "idx"))
    assert reader.positions is False
    with pytest.raises(ValueError, match="positions"):
        reader.phrase_docs("ba ke")


def test_merge_rejects_mixed_positions(spark, pos_index, tmp_path_factory):
    from aether_elasticsearch_consumer_spark.plans.segments import merge_indexes

    reader, _ = pos_index
    root = tmp_path_factory.mktemp("mixed")
    b = IndexBuilder(spark, str(root / "plain"), docs_per_segment=128,
                     term_buckets=8)
    b.build(webtext_df(spark, 50, partitions=2), fingerprint_extra="plain")
    with pytest.raises(ValueError, match="layout"):
        merge_indexes(spark, str(reader.dir), str(root / "plain"),
                      str(root / "out"))


def test_scoring_unaffected_by_positions(spark, pos_index, tmp_path_factory):
    """The positional sidecar must not perturb ranking: BM25 top-k over a
    positional index equals the plain index's, block for block."""
    reader, docs = pos_index
    root = tmp_path_factory.mktemp("plain2")
    src = webtext_df(spark, 500, partitions=4)
    b = IndexBuilder(spark, str(root / "idx"), docs_per_segment=128,
                     term_buckets=8)
    b.build(src, fingerprint_extra="plain500")
    plain = IndexReader(spark, str(root / "idx"))
    for q in ["keta gera", "the", "ba ke ra"]:
        a = [(r["doc_id"], r["score"]) for r in reader.search(q, k=10).collect()]
        c = [(r["doc_id"], r["score"]) for r in plain.search(q, k=10).collect()]
        assert a == c, q


def test_prefix_expansion_and_docs(spark, pos_index):
    reader, docs = pos_index
    terms = reader.expand_prefix("ke")
    assert terms and all(t.startswith("ke") for t in terms)
    got = {r["doc_id"] for r in reader.prefix_docs("ke").collect()}
    want = {
        d for d, text in docs
        if any(t.startswith("ke") for t in tokenize_py(text))
    }
    assert got == want
    with pytest.raises(ValueError, match="expands"):
        reader.expand_prefix("", max_terms=3)


def test_phrase_after_positional_merge(spark, tmp_path_factory):
    """Positional base + positional delta merge: phrase matching stays
    exact across the merged doc-id ranges (block blobs union verbatim)."""
    from aether_elasticsearch_consumer_spark.plans.segments import (
        merge_indexes,
        next_doc_id_offset,
    )

    root = tmp_path_factory.mktemp("posmerge")
    full = webtext_df(spark, 300, partitions=4).cache()
    page = "cast(substring(url, length(url) - 7, 8) as int)"
    base_src = full.where(f"{page} < 200")
    delta_src = full.where(f"{page} >= 200")
    kw = dict(docs_per_segment=64, term_buckets=4, with_positions=True)
    IndexBuilder(spark, str(root / "b"), **kw).build(base_src, fingerprint_extra="pb")
    off = next_doc_id_offset(str(root / "b"))
    IndexBuilder(spark, str(root / "d"), doc_id_offset=off, **kw).build(
        delta_src, fingerprint_extra="pd")
    merge_indexes(spark, str(root / "b"), str(root / "d"), str(root / "m"))
    reader = IndexReader(spark, str(root / "m"))
    assert reader.positions is True
    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(str(root / "m/docs/data"))
        .select("doc_id", "text").collect()
    ]
    toks = tokenize_py(docs[-1][1])  # a delta-side doc
    phrase = " ".join(toks[5:7])
    got = {r["doc_id"] for r in reader.phrase_docs(phrase).collect()}
    assert got == _scan_phrase(docs, phrase)
    assert any(d >= off for d in got)  # matches exist on the delta side
    full.unpersist()


def test_fuzzy_and_wildcard_expansion(spark, pos_index):
    reader, docs = pos_index
    vocab = {t for _, text in docs for t in tokenize_py(text)}
    needle = sorted(vocab)[len(vocab) // 2]

    def edits1(a, b):
        # quick Levenshtein<=1 check
        if a == b:
            return True
        la, lb = len(a), len(b)
        if abs(la - lb) > 1:
            return False
        if la == lb:
            return sum(x != y for x, y in zip(a, b)) == 1
        s, l = (a, b) if la < lb else (b, a)
        for i in range(len(l)):
            if l[:i] + l[i + 1:] == s:
                return True
        return False

    got = set(reader.expand_fuzzy(needle, max_edits=1))
    want = {t for t in vocab if edits1(t, needle)}
    assert got == want and needle in got

    pat = needle[:2] + "*"
    got_w = set(reader.expand_wildcard(pat))
    assert got_w == {t for t in vocab if t.startswith(needle[:2])}
    # docs returned match a scan
    ids = {r["doc_id"] for r in reader.fuzzy_docs(needle, 1).collect()}
    want_ids = {
        d for d, text in docs if any(edits1(t, needle) for t in tokenize_py(text))
    }
    assert ids == want_ids


def test_build_rejects_doc_past_position_envelope(spark, tmp_path):
    """A doc with >= 2^20 tokens would overflow the (doc_id << 20 | pos)
    phrase-key packing; the positional build must fail loudly, never
    store wrapped positions (round-2 advisor finding)."""
    big = "x " * ((1 << 20) + 2)
    src = spark.createDataFrame(
        [("https://a.example/big", big), ("https://a.example/ok", "small doc")],
        "url string, text string",
    )
    b = IndexBuilder(
        spark, str(tmp_path / "idx"), docs_per_segment=4, term_buckets=2,
        with_positions=True,
    )
    with pytest.raises(Exception, match="2\\^20 tokens"):
        b.build(src, fingerprint_extra="envelope")


def test_build_rejects_doc_of_exactly_position_envelope(spark, tmp_path):
    """Exactly 2^20 tokens: every offset fits 20 bits, but the packed
    doc_len caps at 2^20 - 1 while the docs sidecar stores 2^20, so
    readers would disagree on the doc's length — rejected too."""
    big = "x " * (1 << 20)
    src = spark.createDataFrame(
        [("https://a.example/big", big), ("https://a.example/ok", "small doc")],
        "url string, text string",
    )
    b = IndexBuilder(
        spark, str(tmp_path / "idx"), docs_per_segment=4, term_buckets=2,
        with_positions=True,
    )
    with pytest.raises(Exception, match="2\\^20 tokens"):
        b.build(src, fingerprint_extra="envelope_exact")


def test_highlight_fragments_match_python(pos_index):
    """ES highlight: fragment = ±window analyzed tokens around the FIRST
    occurrence, match wrapped in <em>…</em> — engine (index positions +
    Catalyst window slice) vs a direct python computation, including
    match-at-start and match-at-end edges."""
    reader, docs = pos_index
    term, w = "keta", 5

    def py_frag(toks):
        if term not in toks:
            return None
        p = toks.index(term)
        return " ".join(
            toks[max(0, p - w):p] + [f"<em>{term}</em>"] + toks[p + 1:p + 1 + w]
        )

    want = {}
    for doc_id, text in docs:
        f = py_frag(tokenize_py(text))
        if f is not None:
            want[doc_id] = f
    got = {
        r["doc_id"]: r["fragment"]
        for r in reader.highlight(term, window=w).collect()
    }
    assert got == want and got


def test_highlight_query_matches_python(pos_index):
    """Query-level highlight: the WHOLE query-string query drives both
    the doc set (query filter) and the emphasis set (every positive leaf's
    analyzed terms + dictionary expansions); fragment = first occurrence
    of ANY positive term, all positive-term occurrences inside it wrapped.
    Replayed in python over the same tokenizer output."""
    reader, docs = pos_index
    q, w = '"keta gera" OR rata ho*', 4
    exp = set(reader.expand_prefix("ho"))
    assert exp, "fixture vocabulary lost its ho* terms — pick another prefix"
    P = {"keta", "gera", "rata"} | exp

    def matches(toks):
        phrase = any(
            toks[i] == "keta" and toks[i + 1] == "gera"
            for i in range(len(toks) - 1)
        )
        return phrase or "rata" in toks or bool(exp & set(toks))

    want = {}
    for doc_id, text in docs:
        toks = tokenize_py(text)
        if not matches(toks):
            continue
        p = min(i for i, t in enumerate(toks) if t in P)
        frag = toks[max(0, p - w):p + 1 + w]
        want[doc_id] = " ".join(
            f"<em>{t}</em>" if t in P else t for t in frag
        )
    got = {
        r["doc_id"]: r["fragment"]
        for r in reader.highlight_query(q, window=w).collect()
    }
    assert got == want and got


def test_highlight_reuses_the_reader_docs_frame(jobs_in, pos_index):
    """The highlighters read the docs sidecar through the reader's cached
    frame: its schema-inference job runs once per reader, so building a
    second highlight on the same reader runs no Spark job."""
    reader, _ = pos_index
    reader.highlight("keta")
    assert jobs_in(lambda: reader.highlight("keta")) == 0
    assert jobs_in(lambda: reader.highlight_fragments("keta")) == 0


def test_highlight_edge_positions(spark, tmp_path):
    src = spark.createDataFrame(
        [
            ("https://e/1", "keta starts this doc with words after"),
            ("https://e/2", "doc that ends with the term keta"),
            ("https://e/3", "keta"),
            ("https://e/4", "no match here at all"),
        ],
        "url string, text string",
    )
    b = IndexBuilder(
        spark, str(tmp_path / "i"), docs_per_segment=4, term_buckets=2,
        with_positions=True,
    )
    b.build(src, fingerprint_extra="hl-edge")
    rd = IndexReader(spark, str(tmp_path / "i"))
    rows = {
        r["fragment"]
        for r in rd.highlight("keta", window=3).collect()
    }
    assert rows == {
        "<em>keta</em> starts this doc",
        "with the term <em>keta</em>",
        "<em>keta</em>",
    }


def test_phrase_prefix_matches_python(pos_index):
    """match_phrase_prefix through the slot-generalized verifier: head
    terms exact + any dictionary expansion of the trailing prefix in the
    final slot, freqs included — vs a direct python scan. Also checks
    slop composition and the ES-style silent max_expansions cap."""
    reader, docs = pos_index
    tok_docs = [(i, tokenize_py(t)) for i, t in docs]
    vocab = sorted({t for _, toks in tok_docs for t in toks})

    def py_pp(head, prefix, slop, exp_cap=None):
        exp = [t for t in vocab if t.startswith(prefix)]
        if exp_cap is not None:
            exp = exp[:exp_cap]
        exp = set(exp)
        out = {}
        for i, toks in tok_docs:
            n = 0
            for s in range(len(toks)):
                if toks[s] != head[0]:
                    continue
                # greedy in-order walk over head[1:] then the expansion set
                cur, ok = s, True
                for slot in [[h] for h in head[1:]] + [exp]:
                    nxt = next(
                        (j for j in range(cur + 1, len(toks))
                         if toks[j] in slot), None)
                    if nxt is None:
                        ok = False
                        break
                    cur = nxt
                if ok and cur - s <= len(head) + slop:  # m-1 = len(head)
                    n += 1
            if n:
                out[i] = n
        return out

    # pick a head term that actually precedes some prefix-matching token
    from collections import Counter

    big = Counter()
    for _, toks in tok_docs[:100]:
        big.update(zip(toks, (t[:2] for t in toks[1:])))
    (head_t, pfx), cnt = big.most_common(1)[0]
    assert cnt >= 3
    for slop in (0, 2):
        got = {
            r["doc_id"]: r["phrase_freq"]
            for r in reader.phrase_prefix_docs(
                f"{head_t} {pfx}", with_freq=True, slop=slop
            ).collect()
        }
        want = py_pp([head_t], pfx, slop)
        assert got == want and got, (head_t, pfx, slop)
    # silent cap: max_expansions=1 keeps only the dictionary-first term
    got1 = {
        r["doc_id"]: r["phrase_freq"]
        for r in reader.phrase_prefix_docs(
            f"{head_t} {pfx}", with_freq=True, max_expansions=1
        ).collect()
    }
    assert got1 == py_pp([head_t], pfx, 0, exp_cap=1)
    # no-head form: bare prefix slot counts every expansion occurrence
    got_bare = {
        r["doc_id"]: r["phrase_freq"]
        for r in reader.phrase_prefix_docs(pfx, with_freq=True).collect()
    }
    exp = {t for t in vocab if t.startswith(pfx)}
    want_bare = {}
    for i, toks in tok_docs:
        n = sum(1 for t in toks if t in exp)
        if n:
            want_bare[i] = n
    assert got_bare == want_bare and got_bare


def test_slop_and_prefix_random_adversarial(spark, tmp_path_factory):
    """Adversarial verifier hardening: 60 random docs over a 4-letter
    alphabet (maximal term repeats / self-overlap — the shapes the webtext
    fixture never produces), then every combination of random phrase ×
    slop × prefix-slot checked against the exhaustive per-start python
    evaluator. Catches greedy-walk and duplicate-term regressions the
    corpus tests can't."""
    import random

    rng = random.Random(1234)
    alpha = ["ga", "ta", "ca", "aa"]
    docs = [
        (f"https://r/{i}", " ".join(rng.choice(alpha) for _ in range(rng.randint(1, 40))))
        for i in range(60)
    ]
    src = spark.createDataFrame(docs, "url string, text string")
    root = tmp_path_factory.mktemp("advpos")
    IndexBuilder(
        spark, str(root / "i"), docs_per_segment=16, term_buckets=4,
        with_positions=True,
    ).build(src, fingerprint_extra="adv60")
    rd = IndexReader(spark, str(root / "i"))
    tok_docs = [
        (r["doc_id"], tokenize_py(r["text"]))
        for r in spark.read.parquet(str(root / "i/docs/data"))
        .select("doc_id", "text").collect()
    ]

    def py_slots(toks, slots, slop):
        # exhaustive in-order sloppy match over term-SET slots
        def ok_from(p, rest, budget):
            if not rest:
                return True
            for q in range(p + 1, min(p + 1 + budget, len(toks) - len(rest)) + 1):
                if toks[q] in rest[0] and ok_from(q, rest[1:], budget - (q - p - 1)):
                    return True
            return False

        n = 0
        for p, t in enumerate(toks):
            if t in slots[0] and ok_from(p, slots[1:], slop):
                n += 1
        return n

    checked = 0
    for trial in range(40):
        m = rng.randint(2, 4)
        seq = [rng.choice(alpha) for _ in range(m)]
        slop = rng.choice([0, 1, 2, 4])
        got = {
            r["doc_id"]: r["phrase_freq"]
            for r in rd.phrase_docs(
                " ".join(seq), with_freq=True, slop=slop
            ).collect()
        }
        want = {
            i: f for i, toks in tok_docs
            if (f := py_slots(toks, [[t] for t in seq], slop)) > 0
        }
        assert got == want, (seq, slop)
        checked += bool(want)
    assert checked >= 10, "fixture too sparse — phrases never matched"
    # phrase-prefix over the same adversarial corpus: last slot 'a' or 'c'
    for pfx, slop in [("a", 0), ("c", 1), ("g", 2)]:
        head = rng.choice(alpha)
        exp = [t for t in alpha if t.startswith(pfx)]
        got = {
            r["doc_id"]: r["phrase_freq"]
            for r in rd.phrase_prefix_docs(
                f"{head} {pfx}", with_freq=True, slop=slop
            ).collect()
        }
        want = {
            i: f for i, toks in tok_docs
            if (f := py_slots(toks, [[head], exp], slop)) > 0
        }
        assert got == want, (head, pfx, slop)


@pytest.fixture(scope="module")
def pos_tomb(spark, pos_index, tmp_path_factory):
    """A tombstoned copy of ``pos_index`` and its live docs."""
    import shutil

    from aether_elasticsearch_consumer_spark.plans.tombstones import (
        apply_deletes,
    )

    reader, docs = pos_index
    idx = tmp_path_factory.mktemp("postomb") / "idx"
    shutil.copytree(reader.dir, idx)
    dead = {d for d, _ in docs if d % 7 == 0}
    apply_deletes(spark, str(idx), sorted(dead))
    return IndexReader(spark, str(idx)), [x for x in docs if x[0] not in dead]


def _phrase_scores_py(docs: list[tuple[int, str]], phrase: str) -> dict:
    """Brute-force phrase BM25: phrase freq = start positions found by the
    ``_scan_phrase`` token walk, df = matching docs, N/avgdl over ``docs``;
    the ``bm25_cols`` operation order, then Spark's HALF_UP 9-dp round."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from aether_elasticsearch_consumer_spark import B, K1

    terms = tokenize_py(phrase)
    toks = {d: tokenize_py(t) for d, t in docs}
    N = len(toks)
    avgdl = sum(map(len, toks.values())) / N
    freq = {}
    for d, ts in toks.items():
        f = sum(
            ts[i : i + len(terms)] == terms
            for i in range(len(ts) - len(terms) + 1)
        )
        if f:
            freq[d] = f
    df = len(freq)
    idf = math.log(1.0 + (float(N) - df + 0.5) / (df + 0.5))

    def r9(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    return {
        d: r9(
            idf * float(f)
            / (float(f) + K1 * (1.0 - B + B * float(len(toks[d])) / avgdl))
        )
        for d, f in freq.items()
    }


@pytest.mark.parametrize("which", ["clean", "tomb"])
def test_phrase_scores_match_brute_force(request, which):
    """phrase_scores on a clean and a tombstoned positional index equals a
    Python brute force over the live docs: same match set, phrase freq,
    df, doc_len and live N/avgdl, same 9-dp scores."""
    from collections import Counter

    reader, docs = request.getfixturevalue(
        "pos_index" if which == "clean" else "pos_tomb"
    )
    all_docs = request.getfixturevalue("pos_index")[1]
    toks0 = tokenize_py(all_docs[0][1])
    # the corpus' most frequent bigram (matches in live and dead docs),
    # a bigram and a trigram out of doc 0 (dead on the tombstoned index)
    bigrams = Counter(
        " ".join(ts[i : i + 2])
        for ts in (tokenize_py(t) for _, t in all_docs)
        for i in range(len(ts) - 1)
    )
    phrases = [
        bigrams.most_common(1)[0][0],
        " ".join(toks0[3:5]),
        " ".join(toks0[10:13]),
    ]
    n_hits = 0
    for phrase in phrases:
        got = {r["doc_id"]: r["score"] for r in reader.phrase_scores(phrase).collect()}
        assert got == _phrase_scores_py(docs, phrase), phrase
        n_hits += len(got)
    assert n_hits > len(phrases), "fixture phrases barely matched — weak test"
