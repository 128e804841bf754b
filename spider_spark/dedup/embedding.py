"""Embedding-cosine near-duplicate pairs.

The shared vector math (``dot``, ``norm``, ``with_normed``) stays
JVM-side (`zip_with` + `aggregate`), in float64 so the DuckDB oracle
(list_cosine_similarity on DOUBLE[]) matches bit-for-bit modulo
rounding. ``cosine_neardup_pairs_fast`` is the exact all-pairs path, a
blocked numpy matmul; the scale path is the LSH-bucketed variant in
spider_spark.similarity.lsh — same verify step, key-bounded candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

COSINE_THRESHOLD = 0.35


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_normed(df: DataFrame) -> DataFrame:
    """Add a float64 copy of ``embedding`` and its L2 norm (computed once)."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return df.withColumn("_v", v).withColumn("_norm", norm(F.col("_v")))


# target rows per block: bounds every task to two ~BLOCK_TARGET_ROWS×d
# float64 matrices regardless of table size (no driver materialisation)
BLOCK_TARGET_ROWS = 4096


def cosine_neardup_pairs_fast(
    emb: DataFrame, threshold: float = COSINE_THRESHOLD
) -> DataFrame:
    """All-pairs cosine near-dup via a block-keyed distributed matmul.

    Exact all-pairs is inherently O(n²) compute; what must NOT be O(n)
    is any single machine's memory. Vectors are hash-assigned to
    nb blocks; each row is replicated once per partner block
    (nb copies — the standard triangle-join layout), keyed by the
    unordered block pair, and each (bi, bj) group does ONE float64 BLAS
    matmul over two bounded blocks inside applyInPandas. The driver
    never sees the table, every task holds ≤ 2·(n/nb) vectors,
    and the shuffle is n·nb rows — nb ≈ n/BLOCK_TARGET_ROWS, and
    that is the O(n·√n̄)-ish transfer a blocked exact join costs.
    (For genuinely huge n, LSH-bucket first: spider_spark.similarity.lsh.)

    Semantics identical to the exact JVM self-join (checked in
    tests/test_dedup.py and by the driver's oracle): cos = dot/(‖a‖‖b‖)
    in float64, round 4, keep pairs with id₁ < id₂ and cos ≥ threshold.
    """
    import numpy as np
    import pandas as pd

    emb = emb.filter(
        F.col("embedding").isNotNull() & (F.size("embedding") > 0)
    ).select("vec_id", "embedding")
    n = emb.count()  # one narrow scan; negligible next to O(n²) compute
    # enough blocks to bound task memory AND to busy the cluster on
    # small inputs (block-pair groups = nb(nb+1)/2 tasks)
    nb = max(1, -(-n // BLOCK_TARGET_ROWS), min(16, n // 256))

    blk = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(nb)).cast("int")
    rep = (
        emb.withColumn("blk", blk)
        .withColumn("p", F.explode(F.sequence(F.lit(0), F.lit(nb - 1))))
        .select(
            F.least("blk", "p").alias("bi"),
            F.greatest("blk", "p").alias("bj"),
            # diagonal rows (blk == p) carry side L exactly once
            F.when(F.col("blk") <= F.col("p"), F.lit("L"))
            .otherwise(F.lit("R"))
            .alias("side"),
            "vec_id",
            "embedding",
        )
    )

    def block_pairs(key, pdf):
        bi, bj = key
        lmask = pdf["side"] == "L"
        lp, rp = pdf[lmask], pdf[~lmask]
        if not len(lp) or (bi != bj and not len(rp)):
            return pd.DataFrame({"vec_id_1": [], "vec_id_2": [], "cos": []}).astype(
                {"vec_id_1": "int64", "vec_id_2": "int64", "cos": "float64"}
            )
        li = lp["vec_id"].to_numpy()
        lm = np.vstack(lp["embedding"].to_numpy()).astype(np.float64)
        ln = np.sqrt((lm * lm).sum(axis=1))
        if bi == bj:
            ri, rm, rn = li, lm, ln
        else:
            ri = rp["vec_id"].to_numpy()
            rm = np.vstack(rp["embedding"].to_numpy()).astype(np.float64)
            rn = np.sqrt((rm * rm).sum(axis=1))
        cos = np.round((lm @ rm.T) / (ln[:, None] * rn[None, :]), 4)
        keep = cos >= threshold
        if bi == bj:
            keep &= li[:, None] < ri[None, :]
        r, c = np.nonzero(keep)
        a, b = li[r], ri[c]
        return pd.DataFrame(
            {
                "vec_id_1": np.minimum(a, b),
                "vec_id_2": np.maximum(a, b),
                "cos": cos[r, c],
            }
        )

    return rep.groupBy("bi", "bj").applyInPandas(
        block_pairs, schema="vec_id_1 bigint, vec_id_2 bigint, cos double"
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper over the embeddings table."""
    return cosine_neardup_pairs_fast(Catalog(spark, sf_dir).embeddings)
