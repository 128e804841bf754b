"""Random-hyperplane LSH approximate top-k cosine search (the scale path).

- PLANES deterministic pseudo-random hyperplanes (md5-seeded at import —
  no RNG state, reproducible across runs/executors).
- Each vector gets a sign-bit bucket id; candidates for a query are the
  vectors in its bucket plus all 1-bit-flip neighbour buckets (multiprobe)
  — the join is keyed on bucket id, so shuffle volume is
  O(rows × (PLANES+1)), never O(n²).
- Exact cosine re-rank inside the candidate set (same verify as brute
  force), so precision is exact and only recall is approximate.

Approximate ⇒ rows-only driver check; recall vs brute force asserted in
tests on clustered synthetic vectors.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.dedup.embedding import dot

N_PLANES = 8
DIM = 64
TOP_K = 5
N_QUERIES = 10


def _plane_weights() -> list[list[float]]:
    """Deterministic hyperplanes: md5("plane:j:d") → uniform [-1, 1)."""
    planes = []
    for j in range(N_PLANES):
        row = []
        for d in range(DIM):
            h = int.from_bytes(
                hashlib.md5(f"plane:{j}:{d}".encode()).digest()[:8], "big"
            )
            row.append((h % 200_000) / 100_000.0 - 1.0)
        planes.append(row)
    return planes


PLANES = _plane_weights()


def bucket_id(vec: Column) -> Column:
    """Sign-bit bucket of a float vector under the fixed hyperplanes."""
    bucket = F.lit(0)
    for j, row in enumerate(PLANES):
        proj = dot(vec, F.array(*[F.lit(w) for w in row]))
        bucket = bucket + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def _bucketed(df: DataFrame) -> DataFrame:
    """(vec_id, v: array<double>, nrm, bucket) in ONE Arrow batch pass:
    the 8 plane projections are a (batch × dim) @ (dim × planes) matmul
    instead of 8 interpreted zip_with evaluations per row — the same
    kernel-over-narrow-pass pattern as the MinHash signatures, and the
    shape that survives billions of rows (parallelism = input splits)."""
    import numpy as np
    import pandas as pd

    P = np.asarray(PLANES, dtype=np.float64)  # (planes, dim)
    weights = (1 << np.arange(len(PLANES))).astype(np.int64)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            proj = X @ P.T  # (batch, planes)
            bucket = ((proj > 0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": list(X),
                    "nrm": np.sqrt((X * X).sum(axis=1)),
                    "bucket": bucket,
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(
        kernel, schema="vec_id bigint, v array<double>, nrm double, bucket bigint"
    )


def ann_lsh_topk_frames(
    queries: DataFrame, candidates: DataFrame, k: int = TOP_K
) -> DataFrame:
    """(q_id, neighbor_id, cos, rank) approximate top-k via LSH buckets."""
    c = _bucketed(candidates).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        "bucket",
    )
    q0 = _bucketed(queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qbucket"),
    )
    # Multiprobe: own bucket + every 1-bit flip.
    probes = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << j)) for j in range(len(PLANES))],
    )
    q = q0.select("q_id", "qv", "qn", F.explode(probes).alias("bucket"))
    cos = dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = q.join(c, "bucket").withColumn("cos", F.round(cos, 4))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cos", "rank")
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: first N_QUERIES vecs against the rest."""
    emb = Catalog(spark, sf_dir).embeddings
    return ann_lsh_topk_frames(
        emb.filter(F.col("vec_id") < N_QUERIES),
        emb.filter(F.col("vec_id") >= N_QUERIES),
    )
