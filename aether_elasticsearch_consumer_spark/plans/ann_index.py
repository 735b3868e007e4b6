"""Persisted ANN indexes: the scale-shaped similarity-search path.

The ad-hoc variants in ``operators/similarity.py`` prune COMPUTE (fewer
cosines) but not I/O — they rescan and re-hash the whole corpus per query,
which is an anti-pattern at 10^12 rows. These classes move the pruning
structure to BUILD time, mirroring what ``plans/index_build.py`` does for
postings (term-bucket directory pruning):

- ``LshAnnIndex``: one pass computes a packed random-hyperplane signature
  per row (vectorized Arrow UDF, BLAS matmul per batch) and writes the
  table partitioned by the signature's top ``prefix_bits``. A query
  enumerates the prefixes within its hamming budget and reads ONLY those
  directories — sum_{i<=r} C(prefix_bits, i) of 2^prefix_bits partitions —
  then filters candidates by full-signature hamming (JVM ``bit_count``)
  and exact-scores the survivors.
- ``IvfAnnIndex``: deterministic centroid selection (the ``n_centroids``
  rows with the smallest xxhash64(id) — a bounded sort on ids, never a
  driver-side corpus sample), one pass assigns every row to its nearest
  centroid, table written partitioned by ``list_id``. A query scores the
  tiny centroid table driver-side and reads only the ``nprobe`` nearest
  lists.

Both queries end in the same tie-exact re-rank as ``brute_force_topk``, so
results are deterministic and rank-stable across parallelism levels.

Reference parity: the reference delegates *all* retrieval to Elasticsearch
(/root/reference/consumer/app/artifacts.py:345-347 creates docs one HTTP
call at a time); ANN over embedding columns is part of this repo's
training-data surface (SURVEY.md §2 extras), built public-knowledge-first
(random-hyperplane LSH: Charikar 2002; IVF: Jégou et al. 2011).
"""

from __future__ import annotations

from itertools import combinations
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.similarity import (
    TOPK_SCHEMA,
    _planes,
    brute_force_topk,
    signature_bits,
)
from ..operators.topk import _empty


def _hamming_ball(value: int, bits: int, radius: int) -> list[int]:
    """All ``bits``-wide ints within hamming distance ``radius`` of value."""
    out = [value]
    for r in range(1, min(radius, bits) + 1):
        for flip in combinations(range(bits), r):
            v = value
            for b in flip:
                v ^= 1 << b
            out.append(v)
    return out


class LshAnnIndex:
    """Build/query a hyperplane-LSH index persisted under ``index_dir``.

    Layout::

        index_dir/meta/     one row: dim, n_planes, prefix_bits, seed
        index_dir/data/     sig_prefix=*/ (id, embedding, sig)
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.dir = Path(index_dir)
        m = spark.read.parquet(str(self.dir / "meta")).collect()[0]
        self.dim = int(m["dim"])
        self.n_planes = int(m["n_planes"])
        self.prefix_bits = int(m["prefix_bits"])
        self.seed = int(m["seed"])
        self.planes = _planes(self.dim, self.n_planes, self.seed)

    @staticmethod
    def build(
        spark: SparkSession,
        df: DataFrame,
        index_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_planes: int = 16,
        prefix_bits: int = 6,
        seed: int = 42,
    ) -> "LshAnnIndex":
        if prefix_bits > n_planes:
            raise ValueError("prefix_bits cannot exceed n_planes")
        first = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
        dim = int(first[0]["d"]) if first else 0
        planes = _planes(dim, n_planes, seed)

        @F.pandas_udf(T.LongType())
        def sig_udf(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            return pd.Series(signature_bits(mat, planes))

        shift = n_planes - prefix_bits
        out = Path(index_dir)
        data = (
            df.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
                sig_udf(F.col(vec_col)).alias("sig"),
            )
            .withColumn(
                "sig_prefix", F.shiftrightunsigned("sig", shift).cast("int")
            )
        )
        data.write.mode("overwrite").partitionBy("sig_prefix").parquet(
            str(out / "data")
        )
        spark.createDataFrame(
            [(dim, n_planes, prefix_bits, seed)],
            "dim int, n_planes int, prefix_bits int, seed int",
        ).coalesce(1).write.mode("overwrite").parquet(str(out / "meta"))
        return LshAnnIndex(spark, index_dir)

    def append(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "LshAnnIndex":
        """Incremental maintenance: signature + partition NEW vectors with
        the STORED planes (dim/n_planes/seed from meta — bit-identical
        hashing to the original build) and append into the same
        ``sig_prefix`` directories. Because hyperplane LSH is stateless,
        an appended index answers queries EXACTLY like a from-scratch
        build over the union (pinned in tests). Append-only contract:
        ids must be new — replaying a batch duplicates rows (pair with
        the upsert/tombstone machinery of the text index if vectors
        mutate)."""
        planes = self.planes
        shift = self.n_planes - self.prefix_bits

        @F.pandas_udf(T.LongType())
        def sig_udf(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            return pd.Series(signature_bits(mat, planes))

        (
            df.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
                sig_udf(F.col(vec_col)).alias("sig"),
            )
            .withColumn(
                "sig_prefix", F.shiftrightunsigned("sig", shift).cast("int")
            )
            .write.mode("append")
            .partitionBy("sig_prefix")
            .parquet(str(self.dir / "data"))
        )
        return self

    def probe_paths(
        self, query_vec, max_hamming: int, max_prefix_hamming: int | None = None
    ) -> list[str]:
        """The partition directories a query must read — a strict subset of
        the index (the partition-pruning contract tests assert on this).

        ``max_prefix_hamming`` bounds the prefix-ball radius SEPARATELY
        from the full-signature hamming budget: with the default (None →
        min(max_hamming, prefix_bits)) a generous ``max_hamming`` can span
        the whole prefix space and the directory pruning becomes vacuous
        (the round-2 advisor's finding at prefix_bits=6, max_hamming=6).
        A bounded radius is the standard multi-probe LSH trade: recall is
        given up only for candidates whose signature disagreement
        concentrates in the prefix planes."""
        q = np.asarray(query_vec, dtype=np.float64)
        q_sig = int(signature_bits(q[None, :], self.planes)[0])
        q_prefix = q_sig >> (self.n_planes - self.prefix_bits)
        radius = (
            max_hamming if max_prefix_hamming is None else max_prefix_hamming
        )
        prefixes = _hamming_ball(q_prefix, self.prefix_bits, radius)
        return [
            str(self.dir / "data" / f"sig_prefix={p}")
            for p in prefixes
            if (self.dir / "data" / f"sig_prefix={p}").exists()
        ]

    def query(
        self,
        query_vec,
        k: int = 10,
        max_hamming: int = 3,
        max_prefix_hamming: int | None = None,
    ) -> DataFrame:
        """Top-k by exact cosine among rows whose stored signature is
        within ``max_hamming`` of the query signature AND whose prefix is
        within ``max_prefix_hamming`` (see ``probe_paths``) of the query
        prefix. Reads only the prefix-ball partitions (directory
        pruning), never the corpus."""
        paths = self.probe_paths(query_vec, max_hamming, max_prefix_hamming)
        if not paths:
            return _empty(self.spark, TOPK_SCHEMA)
        q = np.asarray(query_vec, dtype=np.float64)
        q_sig = int(signature_bits(q[None, :], self.planes)[0])
        cand = (
            self.spark.read.option("basePath", str(self.dir / "data"))
            .parquet(*paths)
            .where(
                F.bit_count(F.col("sig").bitwiseXOR(F.lit(q_sig)))
                <= max_hamming
            )
        )
        return brute_force_topk(cand, query_vec, k=k)


class IvfAnnIndex:
    """Build/query an inverted-file (IVF) index persisted under
    ``index_dir``.

    Layout::

        index_dir/centroids/  (list_id, centroid array<double>) — tiny
        index_dir/data/       list_id=*/ (id, embedding)
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.dir = Path(index_dir)
        rows = (
            spark.read.parquet(str(self.dir / "centroids"))
            .orderBy("list_id")
            .collect()
        )
        self.centroids = np.stack(
            [np.asarray(r["centroid"], dtype=np.float64) for r in rows]
        )

    @staticmethod
    def build(
        spark: SparkSession,
        df: DataFrame,
        index_dir: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
        centroid_ids: list[int] | None = None,
    ) -> "IvfAnnIndex":
        # deterministic distributed centroid pick: the n_centroids rows
        # with the smallest xxhash64(id) — a bounded orderBy.limit on a
        # hash column (TakeOrderedAndProject: per-partition top-n + driver
        # merge), NOT a driver-side sample of the corpus.
        # ``centroid_ids`` overrides with an explicit id list (ordered by
        # id) — useful when the centroid rule must be reproducible by an
        # external oracle.
        base_sel = df.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
        )
        if centroid_ids is not None:
            cent_rows = (
                base_sel.where(F.col("vec_id").isin(list(centroid_ids)))
                .orderBy("vec_id")
                .collect()
            )
        else:
            cent_rows = (
                base_sel.withColumn("_h", F.xxhash64(F.col("vec_id")))
                .orderBy("_h", "vec_id")
                .limit(n_centroids)
                .collect()
            )
        cent = np.stack(
            [np.asarray(r["v"], dtype=np.float64) for r in cent_rows]
        )
        cent_n = cent / np.maximum(
            np.linalg.norm(cent, axis=1, keepdims=True), 1e-12
        )

        @F.pandas_udf(T.IntegerType())
        def assign_udf(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            mat_n = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            return pd.Series(np.argmax(mat_n @ cent_n.T, axis=1).astype(np.int32))

        out = Path(index_dir)
        (
            df.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
            )
            .withColumn("list_id", assign_udf(F.col("embedding")))
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(str(out / "data"))
        )
        spark.createDataFrame(
            [(i, cent[i].tolist()) for i in range(len(cent))],
            "list_id int, centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(str(out / "centroids"))
        return IvfAnnIndex(spark, index_dir)

    def append(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfAnnIndex":
        """Incremental maintenance, FAISS ``add()`` style: assign NEW
        vectors to the EXISTING (frozen) centroids and append into their
        list directories. Identical to a from-scratch build that pins the
        same centroids (pinned in tests); list balance drifts from
        optimal as the corpus grows — rebuild to re-select centroids,
        exactly the IVF retraining trade. Append-only id contract, as
        with ``LshAnnIndex.append``."""
        cent = self.centroids
        cent_n = cent / np.maximum(
            np.linalg.norm(cent, axis=1, keepdims=True), 1e-12
        )

        @F.pandas_udf(T.IntegerType())
        def assign_udf(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            mat_n = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            return pd.Series(
                np.argmax(mat_n @ cent_n.T, axis=1).astype(np.int32)
            )

        (
            df.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).alias("embedding"),
            )
            .withColumn("list_id", assign_udf(F.col("embedding")))
            .write.mode("append")
            .partitionBy("list_id")
            .parquet(str(self.dir / "data"))
        )
        return self

    def probe_paths(self, query_vec, nprobe: int) -> list[str]:
        q = np.asarray(query_vec, dtype=np.float64)
        qn = q / max(np.linalg.norm(q), 1e-12)
        cent_n = self.centroids / np.maximum(
            np.linalg.norm(self.centroids, axis=1, keepdims=True), 1e-12
        )
        sims = cent_n @ qn
        # deterministic probe order: similarity desc, list_id asc
        order = np.lexsort((np.arange(len(sims)), -sims))[:nprobe]
        return [
            str(self.dir / "data" / f"list_id={int(i)}")
            for i in order
            if (self.dir / "data" / f"list_id={int(i)}").exists()
        ]

    def query(self, query_vec, k: int = 10, nprobe: int = 4) -> DataFrame:
        """Exact top-k within the ``nprobe`` nearest inverted lists —
        reads only those partition directories."""
        paths = self.probe_paths(query_vec, nprobe)
        if not paths:
            return _empty(self.spark, TOPK_SCHEMA)
        cand = self.spark.read.option(
            "basePath", str(self.dir / "data")
        ).parquet(*paths)
        return brute_force_topk(cand, query_vec, k=k)
