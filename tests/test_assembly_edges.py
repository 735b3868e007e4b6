"""Direct micro-tests of the postings pipeline (X3-X5 edge cases), run
through the map-side blob generator and the assembler exactly as a build
does: single-token groups, exact block boundaries, tf run-length
counting, delta restart at block starts, exact block-max impacts, and
positions that cross a block boundary. Plus golden hashes that pin a
whole build's postings/term_stats bytes."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aether_elasticsearch_consumer_spark.functions.codec import decode_block
from aether_elasticsearch_consumer_spark.functions.tokenizer import tokenize_py
from aether_elasticsearch_consumer_spark.operators.topk import (
    _decode_positions_batch,
)
from aether_elasticsearch_consumer_spark.plans import index_build
from aether_elasticsearch_consumer_spark.plans.index_build import (
    DL_BITS,
    IndexBuilder,
    _assemble_postings_arrow,
    _blob_concat,
    _explode_blob_table,
    make_posting_group_blobs_arrow,
)


def assemble(batches, avgdl, dps=8192, with_positions=False):
    """``batches``: lists of ``(doc_id, doc_len, text)`` — one map batch
    each. Runs the map-side generator, tags every group row with
    term_bucket 0 (the shuffle's JVM expression), and assembles the
    concatenated group rows as one reduce partition."""
    gen = make_posting_group_blobs_arrow(dps=dps, with_positions=with_positions)
    groups = list(
        gen(
            pa.record_batch(
                {
                    "packed": pa.array(
                        [(d << DL_BITS) | dl for d, dl, _ in b], pa.int64()
                    ),
                    "text": pa.array([t for _, _, t in b], pa.string()),
                }
            )
            for b in batches
        )
    )
    tbl = pa.Table.from_batches(groups)
    tbl = tbl.append_column(
        "term_bucket", pa.array([0] * tbl.num_rows, pa.int32())
    )
    return _assemble_postings_arrow(_explode_blob_table(tbl), avgdl, dps)


def blocks_by_term(out):
    d = {}
    for r in out.to_pylist():
        d.setdefault(r["term"], []).append(r)
    return {t: sorted(v, key=lambda r: r["block_no"]) for t, v in d.items()}


def test_single_token_group():
    out = assemble([[(5, 10, "alpha")]], avgdl=10.0)
    assert out.num_rows == 1
    ids, tfs = decode_block(out["doc_deltas"][0].as_py(), out["tfs"][0].as_py())
    assert list(ids) == [5] and list(tfs) == [1]


def test_exact_block_boundaries():
    # "b" in docs 0..127 (exactly one block), "c" in docs 0..128 (129)
    docs = [(i, 10, "b c" if i < 128 else "c") for i in range(129)]
    # two map batches: group rows of one (segment, term) merge reduce-side
    out = assemble([docs[:70], docs[70:]], avgdl=10.0)
    d = {
        t: [(r["block_no"], r["count"], r["first_doc_id"], r["last_doc_id"])
            for r in rows]
        for t, rows in blocks_by_term(out).items()
    }
    assert d["b"] == [(0, 128, 0, 127)]
    assert d["c"] == [(0, 128, 0, 127), (1, 1, 128, 128)]


def test_tf_runlength_and_exact_blockmax():
    out = assemble([[(1, 5, "x x y"), (2, 5, "x")]], avgdl=5.0)
    got = {r["term"]: r["df_seg"] for r in out.to_pylist()}
    assert got == {"x": 2, "y": 1}
    for r in out.to_pylist():
        ids, tfs = decode_block(r["doc_deltas"], r["tfs"])
        if r["term"] == "x":
            assert list(ids) == [1, 2] and list(tfs) == [2, 1]
            # tf=2, dl=5, avgdl=5 → 2/(2 + 1.2·(0.25+0.75)) = 0.625 exact
            assert abs(r["max_impact"] - 0.625) < 1e-12


def test_delta_restart_per_block():
    docs = [(i * 3, 10, "z") for i in range(300)]
    # arrival order must not matter: three batches, the last reversed
    out = assemble([docs[100:200], docs[:100], docs[200:][::-1]], avgdl=10.0)
    all_ids = []
    for r in blocks_by_term(out)["z"]:
        ids, _ = decode_block(r["doc_deltas"], r["tfs"])
        all_ids.extend(ids)
    assert all_ids == [i * 3 for i in range(300)]


def test_positions_cross_block_boundary():
    """A term with tf > 1 in 130 docs (two blocks): the decoded positions
    of every posting equal the tokenizer's offsets, whatever order the
    docs arrive in."""
    texts = {
        i: " ".join(
            ["a"] * (i % 4) + ["w"] + ["b"] * (i % 3) + ["w"]
            + (["w"] if i % 2 else []) + ["c"]
        )
        for i in range(130)
    }
    docs = [(i, len(tokenize_py(t)), t) for i, t in texts.items()]
    out = assemble(
        [docs[1::2][::-1], docs[0::2]], avgdl=6.0, with_positions=True
    )
    rows = blocks_by_term(out)["w"]
    assert [r["count"] for r in rows] == [128, 2]
    ids, tfs = [], []
    for r in rows:
        i, t = decode_block(r["doc_deltas"], r["tfs"])
        ids.extend(i)
        tfs.extend(t)
    pos = _decode_positions_batch(
        {"positions": [r["positions"] for r in rows]},
        np.asarray(tfs, dtype=np.int64),
    )
    want = [
        [j for j, tok in enumerate(tokenize_py(texts[d])) if tok == "w"]
        for d in ids
    ]
    assert ids == list(range(130))
    assert list(pos) == [p for w in want for p in w]
    assert min(tfs) == 2 and max(tfs) == 3
    # without positions every block's stream is empty
    plain = assemble([docs], avgdl=6.0)
    assert all(r["positions"] == b"" for r in plain.to_pylist())


def test_blob_concat_reads_each_chunk():
    """A multi-chunk (and sliced, and large_binary) blob column decodes
    exactly like its single-chunk form — no combined int32 offsets."""
    rng = np.random.default_rng(3)
    blobs = [
        rng.integers(0, 1 << 40, size=int(n)).astype(np.int64).tobytes()
        for n in rng.integers(0, 6, size=40)
    ]
    single = pa.array(blobs, pa.binary())
    want_vals, want_counts = _blob_concat(single, np.int64)
    assert len(want_vals) == sum(len(b) // 8 for b in blobs)
    chunked = pa.chunked_array(
        [single.slice(0, 7), single.slice(7, 0), single.slice(7, 20),
         single.slice(27)]
    )
    for col in (chunked, chunked.cast(pa.large_binary())):
        vals, counts = _blob_concat(col, np.int64)
        assert vals.tolist() == want_vals.tolist()
        assert counts.tolist() == want_counts.tolist()
    empty_vals, empty_counts = _blob_concat(
        pa.chunked_array([], pa.binary()), np.int32
    )
    assert len(empty_vals) == 0 and len(empty_counts) == 0


# sha256 over the sorted rows of a build of the 800-doc webtext fixture
# (docs_per_segment 256, 8 term buckets), captured before the token-level
# and row pre-aggregation shuffle shapes were removed: every later
# postings pipeline must write the same bytes
GOLDEN = {
    ("plain", "postings"):
        "9bc1efbdaf4205ecb199d0c49e0f08aae58177edf56c90d786617b23da6eb5c4",
    ("plain", "term_stats"):
        "38b4b4d840e13ffe7863d93c9916c818015599a9d138fc66f1a29a55089c927d",
    ("pos", "postings"):
        "2dd2d9ee1af96dc9766a4ad84a6536974e99bec638792ae64b7ffb32d8cec86b",
    ("pos", "term_stats"):
        "38b4b4d840e13ffe7863d93c9916c818015599a9d138fc66f1a29a55089c927d",
}


def _rows_sha256(spark, path, key):
    h = hashlib.sha256()
    for r in spark.read.parquet(path).orderBy(*key).collect():
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


@pytest.fixture(scope="module")
def golden_src(spark, tmp_path_factory):
    from aether_elasticsearch_consumer_spark.fixtures.webtext import webtext_df

    root = tmp_path_factory.mktemp("golden")
    webtext_df(spark, 800, partitions=4).write.parquet(str(root / "src"))
    return root, spark.read.parquet(str(root / "src"))


# (segment, term_bucket) groups of the fixture: 800 docs / 256 per
# segment → 4 segments, times 8 term buckets
_GROUPS = 4 * 8


def _build(spark, src, out, kind):
    IndexBuilder(
        spark, str(out), docs_per_segment=256, term_buckets=8,
        with_positions=kind == "pos",
    ).build(src, fingerprint_extra=kind)


def _task_indices(data_dir):
    """Partition ids of the tasks that wrote ``data_dir``'s part files
    (``part-<id>-<uuid>...``): the postings are written straight from
    the assembly tasks, so these are exchange partition ids."""
    return {int(f.name.split("-")[1]) for f in data_dir.rglob("part-*")}


def test_tf_preagg_build_is_byte_identical(spark, golden_src, monkeypatch):
    """Plain and positional builds write postings/term_stats rows that
    hash to the goldens above, at the default exchange width and at one
    wider than the fixture's (segment, term_bucket) groups."""
    root, src = golden_src
    keys = {
        "postings": ["term_bucket", "term", "segment_id", "block_no"],
        "term_stats": ["term_bucket", "term"],
    }
    for width in ("default", "wide"):
        if width == "wide":
            st = pq.read_table(root / "default/plain/stats/data").to_pylist()[0]
            monkeypatch.setattr(
                index_build, "_POSTINGS_TOKENS_PER_TASK",
                int(st["N"] * st["avgdl"]) // (2 * _GROUPS),
            )
        got = {}
        for kind in ("plain", "pos"):
            _build(spark, src, root / width / kind, kind)
            for part, key in keys.items():
                got[kind, part] = _rows_sha256(
                    spark, str(root / f"{width}/{kind}/{part}/data"), key
                )
        assert got == GOLDEN, width
    assert max(_task_indices(root / "wide/plain/postings/data")) >= _GROUPS


def test_postings_exchange_runs_one_task_per_core(spark, golden_src):
    """A build far under the per-task token cap runs its postings
    assembly on defaultParallelism tasks — no fixed floor of extra,
    mostly empty Python tasks."""
    root, src = golden_src
    # resumes the golden test's default-width build when that ran first
    _build(spark, src, root / "default/plain", "plain")
    ids = _task_indices(root / "default/plain/postings/data")
    assert ids == set(range(spark.sparkContext.defaultParallelism))
