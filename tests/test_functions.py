"""Unit goldens for the analyzer + codec (SURVEY.md §5 layer 1)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from aether_elasticsearch_consumer_spark.functions.bm25 import bm25_np, idf_np
from aether_elasticsearch_consumer_spark.functions.codec import (
    decode_block,
    delta_decode,
    delta_encode,
    encode_blocks,
    varbyte_decode,
    varbyte_encode,
)
from aether_elasticsearch_consumer_spark.functions.html import extract_text_py
from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py


class TestTokenizer:
    def test_ascii_basic(self):
        assert tokenize_py("Hello, World! 42x") == ["hello", "world", "42x"]

    def test_ascii_drops_non_ascii_letters(self):
        # ascii profile splits on accented chars — consistently everywhere
        assert tokenize_py("café naïve") == ["caf", "na", "ve"]

    def test_unicode_profile_keeps_letters(self):
        assert tokenize_py("café naïve", "unicode") == ["café", "naïve"]
        assert tokenize_py("Ĝis! ĉi tiu", "unicode") == ["ĝis", "ĉi", "tiu"]

    def test_empty_and_none(self):
        assert tokenize_py("") == []
        assert tokenize_py(None) == []
        assert tokenize_py("!!! --- ???") == []


class TestHtmlExtract:
    def test_strips_boilerplate(self):
        html = (
            b"<html><head><title>T</title><script>x()</script></head>"
            b"<body><nav><a href='/'>home</a></nav><h1>Title Here</h1>"
            b"<p>para one</p><p>para &amp; two</p>"
            b"<footer>&copy; x</footer></body></html>"
        )
        assert extract_text_py(html) == "Title Here\npara one\npara & two"

    def test_none_and_bad_utf8(self):
        assert extract_text_py(None) == ""
        assert extract_text_py(b"<p>ok\xff</p>") == "ok�"


class TestVarbyte:
    def test_roundtrip_golden(self):
        vals = np.array([0, 1, 127, 128, 300, 2**20, 2**40], dtype=np.uint64)
        enc = varbyte_encode(vals)
        assert varbyte_encode(np.array([0])) == b"\x00"
        assert varbyte_encode(np.array([127])) == b"\x7f"
        assert varbyte_encode(np.array([128])) == b"\x80\x01"
        np.testing.assert_array_equal(varbyte_decode(enc), vals)

    def test_empty(self):
        assert varbyte_encode(np.array([], dtype=np.int64)) == b""
        assert len(varbyte_decode(b"")) == 0

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=2**50), max_size=500))
    def test_roundtrip_property(self, vals):
        arr = np.array(vals, dtype=np.uint64)
        np.testing.assert_array_equal(varbyte_decode(varbyte_encode(arr)), arr)

    def test_delta_roundtrip(self):
        ids = np.array([3, 4, 9, 100, 101], dtype=np.int64)
        np.testing.assert_array_equal(delta_decode(delta_encode(ids)), ids)


class TestBlocks:
    def test_encode_decode_with_blockmax(self):
        n = 300
        ids = np.cumsum(np.ones(n, dtype=np.int64)) + 10
        tfs = (np.arange(n) % 7) + 1
        scores = tfs / (tfs + 1.0)
        blocks = encode_blocks(ids, tfs, scores, block_size=128)
        assert [b.count for b in blocks] == [128, 128, 44]
        assert blocks[0].first_doc_id == 11 and blocks[-1].last_doc_id == 310
        got_ids, got_tfs = [], []
        for blk in blocks:
            i, t = decode_block(blk.doc_deltas, blk.tfs)
            got_ids.append(i)
            got_tfs.append(t)
            assert blk.max_score == pytest.approx(
                float((t / (t + 1.0)).max())
            )
        np.testing.assert_array_equal(np.concatenate(got_ids), ids)
        np.testing.assert_array_equal(np.concatenate(got_tfs), tfs)


class TestBM25:
    def test_idf_lucene_form(self):
        # Lucene: ln(1 + (N - df + 0.5)/(df + 0.5))
        assert idf_np(2, 1.0) == pytest.approx(np.log(1 + 1.5 / 1.5))
        assert idf_np(1000, 1.0) == pytest.approx(np.log(1 + 999.5 / 1.5))

    def test_score_monotonic_in_tf(self):
        dl = np.array([100.0, 100.0])
        s = bm25_np(np.array([1, 5]), 10.0, dl, 1000, 100.0)
        assert s[1] > s[0]

    def test_length_normalization(self):
        s = bm25_np(np.array([2, 2]), 10.0, np.array([50.0, 500.0]), 1000, 100.0)
        assert s[0] > s[1]

    def test_golden_value(self):
        # hand-computed: N=4, df=2, tf=3, dl=10, avgdl=12, k1=1.2, b=0.75
        idf = np.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
        norm = 3 + 1.2 * (1 - 0.75 + 0.75 * 10 / 12)
        got = bm25_np(np.array([3]), 2.0, np.array([10.0]), 4, 12.0)
        assert got[0] == pytest.approx(idf * 3 / norm, rel=1e-12)


class TestXxHash64:
    """Driver-side xxhash64 must be bit-exact with Spark's JVM xxhash64 —
    term-bucket pruning correctness depends on it."""

    def test_matches_spark(self, spark):
        from pyspark.sql import functions as F

        from aether_elasticsearch_consumer_spark.functions.xxhash import (
            xxhash64_signed,
        )

        words = ["", "a", "the", "keta", "x" * 31, "y" * 32, "z" * 100,
                 "日本語テキスト", "mixed ASCII と kana"]
        row = spark.range(1).select(
            *[F.xxhash64(F.lit(w)).alias(f"h{i}") for i, w in enumerate(words)]
        ).collect()[0]
        for i, w in enumerate(words):
            assert row[f"h{i}"] == xxhash64_signed(w), repr(w)
