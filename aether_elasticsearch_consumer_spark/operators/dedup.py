"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (its idempotent doc-id upsert, S4, is exact
dedup by key); these cover content-level dedup at corpus scale:

- ``exact_dedup``          — hash-keyed window min on normalized content
                             (one shuffle)
- ``minhash_lsh_pairs``    — shingle (JVM Column ops) → minhash signature
                             (a pandas UDF over 31-bit gram folds) → band
                             buckets; candidates verified with exact
                             Jaccard on the raw grams
- ``simhash_neardup_pairs``— 64-bit weighted bit-vote fingerprint (pandas
                             UDF, vectorized bit ops), pigeonhole chunks as
                             buckets, verified by hamming distance
- ``embedding_neardup_lsh``— random-hyperplane bits as buckets, verified
                             by exact cosine
- ``ngram_jaccard_pairs``  — exact n-gram Jaccard within blocking keys
- ``embedding_neardup_pairs`` — exact cosine pairs within blocks

The three LSH operators share ONE band → candidate → verify path,
``_lsh_pairs``: each supplies only its payload, its per-band bucket
Columns and its verify Column. The cost is O(docs × bands) shuffle,
never O(n²).

Determinism: all hash coefficients derive from a fixed seed; minhash uses
universal hashing (a·x+b mod p) over 31-bit folds of xxhash64 so products
stay in int64 — reproducible across cluster sizes.
"""

from __future__ import annotations

import hashlib as _hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.tokenizer import tokenize_col

MERSENNE_P = (1 << 31) - 1  # 2^31 - 1, prime


def _minhash_coeffs(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = np.random.Generator(np.random.Philox(key=seed))
    a = rng.integers(1, MERSENNE_P, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=n_hashes, dtype=np.int64)
    return list(zip(a.tolist(), b.tolist()))


def exact_dedup(
    df: DataFrame, content_cols: list[str], keep_by: str
) -> DataFrame:
    """Keep one row per distinct content (min ``keep_by`` wins — stable).

    One hash-shuffle via a window min keyed on the content hash: the
    round-5 groupBy+self-join form scanned (and md5'd) the input twice
    and shuffled it twice; the window form moves the rows once and the
    md5 runs once per row (round 6, guide §2.4 — two operations keyed
    the same way share one exchange)."""
    from pyspark.sql import Window

    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in content_cols]))
    w = Window.partitionBy("_h")
    return (
        df.withColumn("_h", h)
        .withColumn("_min", F.min(keep_by).over(w))
        .where(F.col(keep_by) == F.col("_min"))
        .drop("_h", "_min")
    )


def shingle_hashes(text: Column, n: int = 3, profile: str = "ascii") -> Column:
    """Distinct word n-gram shingles as raw gram strings (what the SQL
    oracle compares), all Column ops: tokenize → sliding window via
    transform(sequence). A doc shorter than ``n`` tokens yields one gram
    of all its tokens, as the oracle's ``greatest(len - 2, 1)`` does.

    The token array is BOUND as a lambda variable before the sliding
    window runs: a free tokenize expression inside a higher-order-function
    lambda re-evaluates per element (O(tokens²) regex work per row —
    measured 40× slower on 54-token docs)."""

    def grams_of(ts: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(ts) - n, F.lit(0)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ts, i + 1, n)))

    # transform over a 1-element array evaluates tokenize ONCE and exposes
    # the result as a bound variable for the nested lambda
    return F.array_distinct(
        F.element_at(F.transform(F.array(tokenize_col(text, profile)), grams_of), 1)
    )


def fold31(grams: Column) -> Column:
    """Each gram's xxhash64 folded to 31 bits — the minhash input, so
    a·x+b of the universal hash stays in int64."""
    return F.transform(grams, lambda g: F.pmod(F.xxhash64(g), F.lit(MERSENNE_P)))


def minhash_signature(
    shingles: Column, n_hashes: int = 64, seed: int = 42
) -> Column:
    """array<int31 hash> → array<long> minhash signature (universal
    hashing; empty docs get sentinel p)."""
    coeffs = _minhash_coeffs(n_hashes, seed)
    mins = [
        F.coalesce(
            F.array_min(
                F.transform(
                    shingles,
                    lambda x: F.pmod(F.lit(a) * x + F.lit(b), F.lit(MERSENNE_P)),
                )
            ),
            F.lit(MERSENNE_P),
        )
        for a, b in coeffs
    ]
    return F.array(*mins)


def minhash_signature_arrow(n_hashes: int = 64, seed: int = 42):
    """Vectorized Arrow twin of :func:`minhash_signature` — bit-identical
    output (same universal-hash coefficients, int64 arithmetic, sentinel p
    for empty docs; parity pinned by tests/test_dedup_similarity.py).

    The Column version interprets n_hashes higher-order-function lambdas
    per row (~n_hashes × grams lambda evals); here the whole batch's gram
    hashes flatten once and (a·x+b) mod p runs as one (G × n_hashes)
    numpy broadcast with a segment-min reduceat."""
    coeffs = _minhash_coeffs(n_hashes, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)
    B = np.array([b for _, b in coeffs], dtype=np.int64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(shi: pd.Series) -> pd.Series:
        n = len(shi)
        arrs = shi.to_numpy()
        lens = np.fromiter(
            (0 if a is None else len(a) for a in arrs), dtype=np.int64, count=n
        )
        out = np.full((n, len(A)), MERSENNE_P, dtype=np.int64)
        nz = np.flatnonzero(lens)
        if len(nz):
            flat = np.concatenate(
                [np.asarray(arrs[i], dtype=np.int64) for i in nz]
            )
            # (G, H) universal hash — a,x < 2^31 so a·x+b stays in int64
            vals = (flat[:, None] * A[None, :] + B[None, :]) % MERSENNE_P
            starts = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=starts[1:])
            out[nz] = np.minimum.reduceat(vals, starts, axis=0)
        return pd.Series(list(out))

    return sig_udf


def _lsh_candidates(base: DataFrame, buckets: list[Column]) -> DataFrame:
    """The one band → candidate step of the LSH pair operators: the
    deduped ``(id_a, id_b)`` pairs, id_a < id_b, of ``base`` rows that
    share a bucket in some band. ``base`` is a persisted ``(id, p)``
    frame and ``buckets`` holds one bucket Column per band over it. Only
    docs sharing a band bucket are ever paired, so the cost is
    O(docs × bands) shuffle plus the bucket sizes, never O(n²).

    - The band rows are ``(id, band, bucket)`` ONLY, checkpointed eagerly:
      the payload never rides the ×bands explode, both self-join sides
      read the one materialized table instead of each re-running the
      signature branch, and the truncated lineage stops the signature
      plan re-serializing into every later stage (round 6: ~0.9 s of
      driver time per join-side job on the minhash pandas UDF)."""
    banded = (
        base.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(i).alias("band"), b.alias("bucket"))
                        for i, b in enumerate(buckets)
                    ]
                )
            ).alias("bb"),
        )
        .select("id", "bb.band", "bb.bucket")
        .localCheckpoint(eager=True)
    )
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _lsh_pairs(
    base: DataFrame, buckets: list[Column], verify: Column, keep: Column
) -> DataFrame:
    """:func:`_lsh_candidates`, then verification of the candidates with
    their payloads re-attached by id. ``verify`` is an aliased Column over
    the pair's payloads ``p_a`` / ``p_b`` and ``keep`` its threshold
    predicate. Returns the verified ``(id_a, id_b, <verify>)`` rows,
    ordered and checkpointed; ``base`` is unpersisted on every exit.

    - The candidates are checkpointed: they feed two id projections and
      the join spine.
    - The payload re-attaches to the candidates only (guide §8 "move big
      rows once"): id semi-joins prune ``base`` first, so the payload of
      non-candidates never moves; the verify exchanges are pinned to
      defaultParallelism (AQE otherwise folds the small candidate shuffle
      to ~4 tasks, serializing verification) and hash-joined (a
      sort-merge join would sort the payload arrays). Round 6 measured
      this shape on minhash at 2.76× with an identical pair set.
    - ``base`` is a persist, not a checkpoint: a checkpointed LogicalRDD
      pins all columns and loses per-consumer column pruning. The
      verified pair set is small, so it is materialized before ``base``
      is released; the checkpoint blocks free with their frames via the
      ContextCleaner."""
    try:
        cand = _lsh_candidates(base, buckets).localCheckpoint(eager=True)
        par = base.sparkSession.sparkContext.defaultParallelism

        def side(s: str) -> DataFrame:
            ids = cand.select(F.col(f"id_{s}").alias("id")).distinct()
            return (
                base.join(ids, "id", "left_semi")
                .select(F.col("id").alias(f"id_{s}"), F.col("p").alias(f"p_{s}"))
                .repartition(par, f"id_{s}")
                .hint("SHUFFLE_HASH")
            )

        pairs = (
            cand.repartition(par, "id_a")
            .join(side("a"), "id_a")
            .repartition(par, "id_b")
            .join(side("b"), "id_b")
        )
        return (
            pairs.select("id_a", "id_b", verify)
            .where(keep)
            .orderBy("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
    finally:
        base.unpersist()


def _jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two gram sets, rounded to 6 dp as the oracle does."""
    return F.round(
        F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b)), 6
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 32,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    profile: str = "ascii",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold): the raw
    gram sets persist as the payload, the pandas-UDF minhash signature of
    their 31-bit folds cuts into ``bands`` bucket hashes, and
    :func:`_lsh_pairs` verifies candidates with exact Jaccard on the raw
    grams (what a SQL oracle computes — a hash fold's collisions could
    perturb the 6-dp value).

    The default 32 bands × 2 rows give candidate recall 1-(1-j²)^32 at
    jaccard j (≥0.9999 at j=0.5), so the verified output is in practice
    the full threshold pair set."""
    r = n_hashes // bands
    base = df.select(
        F.col(id_col).alias("id"),
        shingle_hashes(F.col(text_col), shingle_n, profile).alias("p"),
    ).persist()
    sig = minhash_signature_arrow(n_hashes)(fold31(F.col("p")))
    buckets = [F.xxhash64(F.lit(i), F.slice(sig, i * r + 1, r)) for i in range(bands)]
    jaccard = _jaccard(F.col("p_a"), F.col("p_b")).alias("jaccard")
    return _lsh_pairs(base, buckets, jaccard, F.col("jaccard") >= jaccard_threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    n: int = 3,
    threshold: float = 0.5,
    profile: str = "ascii",
) -> DataFrame:
    """Exact n-gram Jaccard pairs within blocking keys (the small-block
    exact variant; use minhash_lsh_pairs when blocks are unbounded)."""
    base = df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in block_cols],
        shingle_hashes(F.col(text_col), n, profile).alias("sh"),
    ).persist()  # tokenize+shingle once, not once per self-join side
    left, right = base.alias("l"), base.alias("r")
    on = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in block_cols]
    on.append(F.col("l.id") < F.col("r.id"))
    try:
        return (
            left.join(right, on)
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                _jaccard(F.col("l.sh"), F.col("r.sh")).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
            .orderBy("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
    finally:
        base.unpersist()


# -- SimHash ----------------------------------------------------------------


def _token_hash64(tokens: list[str]) -> np.ndarray:
    """Deterministic 64-bit token hashes: first 8 md5 bytes, big-endian.
    md5 (unlike the crc32 pair used in earlier rounds) is computable
    bit-exactly in DuckDB SQL — ``('0x' || substr(md5(t), 1, 16))::
    UBIGINT`` — which is what gives ``dedup_simhash`` a full value
    oracle. Runs once per BATCH-unique token (the vocab pass), so the
    per-token digest cost never touches the instance stream."""
    return np.array(
        [
            int.from_bytes(_hashlib.md5(t.encode()).digest()[:8], "big")
            for t in tokens
        ],
        dtype=np.uint64,
    )


def simhash_py(tokens: list[str]) -> int:
    """64-bit simhash: per-bit weighted vote over token hashes."""
    if not tokens:
        return 0
    uniq, counts = np.unique(np.array(tokens), return_counts=True)
    hashes = _token_hash64(list(uniq))
    bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(
        np.int64
    )
    votes = ((bits * 2 - 1) * counts[:, None]).sum(axis=0)
    return int(((votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())


@F.pandas_udf(T.LongType())
def simhash_udf(token_arrays: pd.Series) -> pd.Series:
    """Batch-vectorized simhash (bit-identical to ``simhash_py``, pinned
    by the parity test): one token-hash pass over the BATCH's unique
    vocabulary, then per-bit votes as length-weighted bincounts — the
    per-doc vote for bit b is 2·S_b − L (S_b = set-bit instances, L = doc
    token count), identical to the per-unique-token weighted vote since
    count-weighting equals instance multiplicity. No per-doc Python loop;
    per-bit temporaries stay O(batch instances), never instances × 64."""
    n = len(token_arrays)
    lens = np.fromiter(
        (len(t) if t is not None else 0 for t in token_arrays),
        dtype=np.int64,
        count=n,
    )
    if not lens.sum():
        return pd.Series(np.zeros(n, dtype=np.int64))
    flat = np.concatenate(
        [np.asarray(t, dtype=object) for t in token_arrays if t is not None and len(t)]
    )
    doc_idx = np.repeat(np.arange(n), lens)
    uniq, inv = np.unique(flat, return_inverse=True)
    hashes = _token_hash64([str(u) for u in uniq])[inv]
    votes_pos = np.zeros((n, 64), dtype=np.int64)
    for b in range(64):
        col = ((hashes >> np.uint64(b)) & np.uint64(1)).astype(np.float64)
        votes_pos[:, b] = np.bincount(
            doc_idx, weights=col, minlength=n
        ).astype(np.int64)
    bits = (2 * votes_pos - lens[:, None]) > 0
    sim = (
        bits.astype(np.uint64) << np.arange(64, dtype=np.uint64)[None, :]
    ).sum(axis=1)
    return pd.Series(sim.astype(np.int64))  # two's-complement fold


def simhash_col(text: Column, profile: str = "ascii") -> Column:
    return simhash_udf(tokenize_col(text, profile))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    profile: str = "ascii",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming, using the
    pigeonhole block trick: split 64 bits into (max_hamming+1) chunks —
    any qualifying pair collides on ≥1 exact chunk, so the chunk values
    are the band buckets of :func:`_lsh_candidates` (recall 1 by
    construction) and bit_count(xor) verifies."""
    chunks = max_hamming + 1
    # chunk boundaries must cover ALL 64 bits (pigeonhole requires a full
    # partition): distribute the remainder across the first chunks
    base_w, rem = divmod(64, chunks)
    bounds = []
    start = 0
    for i in range(chunks):
        w = base_w + (1 if i < rem else 0)
        bounds.append((start, w))
        start += w
    base = df.select(
        F.col(id_col).alias("id"), simhash_col(F.col(text_col), profile).alias("p")
    ).persist()
    buckets = [
        F.shiftrightunsigned(F.col("p"), off).bitwiseAND(
            F.lit(-1 if w >= 64 else (1 << w) - 1)
        )
        for off, w in bounds
    ]
    # its own verify: the candidates are read once, and the 8-byte
    # fingerprints join back whole, which AQE broadcasts. Through
    # _lsh_pairs' checkpointed, pruned and pinned re-attach, the later
    # calls of dedup_simhash at sf0.1 took 1.4× as long (5/5 pairs).
    try:
        cand = _lsh_candidates(base, buckets)
        sim = lambda s: base.select(  # noqa: E731
            F.col("id").alias(f"id_{s}"), F.col("p").alias(f"p_{s}")
        )
        return (
            cand.join(sim("a"), "id_a")
            .join(sim("b"), "id_b")
            .select(
                "id_a",
                "id_b",
                F.bit_count(F.col("p_a").bitwiseXOR(F.col("p_b"))).alias("hamming"),
            )
            .where(F.col("hamming") <= max_hamming)
            .orderBy("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
    finally:
        base.unpersist()


# -- embedding near-dup ------------------------------------------------------


def _cosine_pair_cols(a: Column, b: Column) -> Column:
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    norm = lambda x: F.sqrt(dot(x, x))  # noqa: E731
    return dot(a, b) / (norm(a) * norm(b))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str | None = None,
    threshold: float = 0.95,
    allow_cartesian: bool = False,
) -> DataFrame:
    """Exact cosine near-duplicate pairs within ``block_col`` blocks.

    A blocking column is REQUIRED: without it the self-join is a cartesian
    product — O(n²) rows that no cluster survives at corpus scale. For
    unblocked input use :func:`embedding_neardup_lsh` (hyperplane-banded
    candidate generation, never all-pairs). ``allow_cartesian=True`` is an
    explicit escape hatch for tiny in-memory corpora/tests only."""
    if block_col is None and not allow_cartesian:
        raise ValueError(
            "embedding_neardup_pairs without block_col is a cartesian join; "
            "pass block_col, or use embedding_neardup_lsh for unblocked "
            "input (allow_cartesian=True overrides for tiny test corpora)"
        )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        *([F.col(block_col).alias("blk")] if block_col else []),
    )
    l, r = base.alias("l"), base.alias("r")
    on = [F.col("l.id") < F.col("r.id")]
    if block_col:
        on.append(F.col("l.blk") == F.col("r.blk"))
    cos = _cosine_pair_cols(F.col("l.v"), F.col("r.v"))
    return (
        l.join(r, on)
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 16,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-dup pairs WITHOUT a blocking column, at scale: random-
    hyperplane signature bits cut into band buckets → :func:`_lsh_pairs`
    → exact cosine verification of candidates only.

    High-cosine pairs agree on most signature bits (P[bit differs] =
    angle/π ≈ 0.10 at cos 0.95), so with ``bands`` bands of
    ``n_planes/bands`` bits each the candidate recall is
    1-(1-(1-θ/π)^r)^bands ≈ 0.9996 at cos≥0.95 with 8 bands × 2 bits.
    Approximate by design (documented recall), never O(n²)."""
    from .similarity import _planes

    r = n_planes // bands

    # signature bits as pure Column ops: sign of dot(v, plane_i)
    def sig_bit(v: Column, plane: "list[float]") -> Column:
        dot = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(float(x)) for x in plane]),
                lambda a, b: a * b,
            ),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
        return (dot >= 0).cast("int")

    # plane dim = embedding dim (probe one row; arrays carry no static
    # length in the schema) — planes are fully determined by (seed, dim)
    first = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = int(first[0]["d"]) if first else 0
    planes = _planes(dim, n_planes, seed)
    bits = [sig_bit(F.col("p"), planes[i].tolist()) for i in range(n_planes)]
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("p"),
    ).persist()
    buckets = [F.xxhash64(F.lit(b), *bits[b * r : (b + 1) * r]) for b in range(bands)]
    cosine = F.round(_cosine_pair_cols(F.col("p_a"), F.col("p_b")), 6).alias("cosine")
    return _lsh_pairs(base, buckets, cosine, F.col("cosine") >= threshold)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Near-dup pairs → (id, canonical) where canonical = the MINIMUM id
    in each connected component — the step that turns pairwise dedup
    output into keep/drop decisions (keep a doc iff id == canonical).

    Algorithm: iterative min-label propagation over the symmetrized edge
    set — each round every node takes min(own label, neighbors' labels);
    converged when no label changes (one scalar count per round, the only
    driver action). Rounds = component diameter; near-dup clusters are
    shallow (a boilerplate family is a dense blob, not a path), so this
    converges in a handful of rounds at any corpus size. The label table
    localCheckpoints each round: iterative self-joins otherwise stack
    lineage into an exponential plan. Output is algorithm-independent
    (the component-min is unique), so a SQL oracle can replay it with a
    recursive CTE."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        neigh = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        new_labels = (
            labels.join(neigh, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.lbl") != F.col("o.lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds (pathological chain — raise max_iterations)"
        )
    return labels.select(F.col("id"), F.col("lbl").alias("canonical"))


def chunk_hashes(
    text: Column, chunk_tokens: int = 10, profile: str = "ascii"
) -> Column:
    """Non-overlapping ``chunk_tokens``-token chunk md5 hashes of a doc —
    the paragraph-level unit for cross-document boilerplate detection
    (shingles catch near-dup DOCS; chunk dedup catches repeated PASSAGES
    inside otherwise-distinct docs: headers, footers, license blocks).
    Trailing partial chunks are dropped (both sides of the oracle agree
    on complete chunks only).  Token array bound as a lambda variable
    (the shingle_hashes O(tokens²) lesson)."""

    def chunks_of(ts: Column) -> Column:
        n_full = (F.size(ts) / chunk_tokens).cast("int")
        idx = F.when(n_full > 0, F.sequence(F.lit(0), n_full - 1)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(ts, i * chunk_tokens + 1, chunk_tokens))
            ),
        )

    return F.element_at(
        F.transform(F.array(tokenize_col(text, profile)), chunks_of), 1
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 10,
    profile: str = "ascii",
) -> DataFrame:
    """Chunks shared by ≥2 distinct documents → (chunk_hash, n_docs).

    Scale shape: tokenize+hash is map-only; the only shuffle carries
    (16-byte hash, doc_id) pairs — never chunk text; duplicate counting
    is one hash aggregate with map-side partial distinct (per-doc
    array_distinct before the explode bounds a doc's contribution to one
    row per distinct chunk).  The classic web-corpus boilerplate pass."""
    pairs = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(chunk_hashes(F.col(text_col), chunk_tokens, profile))
        ).alias("chunk_hash"),
    )
    return (
        pairs.groupBy("chunk_hash")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
