"""SemDeDup: semantic deduplication inside k-means clusters.

Abbas et al., "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication" (2023): embed every document, k-means the
embeddings, and inside each cluster remove all but one member of every
group whose pairwise cosine exceeds a threshold — catching paraphrases
and re-renderings that lexical MinHash misses. Deterministic keep
policy here: a vector is removed iff an EARLIER vector (lower vec_id)
in the same cluster sits within the threshold, so the kept set is
pairwise below-threshold inside every cluster.

Scale shape: the quantizer trains on a bounded driver sample and the
assignment is one narrow Arrow matmul pass (both shared with
similarity/ivf.py — this IS the FAISS coarse layer reused for dedup).
The pairwise stage is a self-join KEYED ON THE CLUSTER ID — the whole
point of SemDeDup's clustering is that per-cluster populations are
n/C, so the join is C independent (n/C)² blocks, never a corpus n².
At 100 TB, C grows with the corpus (FAISS practice: C ≈ √n) keeping
block sizes bounded; the join key makes that an AQE-splittable shuffle
rather than a broadcast explosion.

k-means is iterative ⇒ rows-only driver check; the keep-set invariant
(no kept pair above threshold inside a cluster) and determinism are
asserted in tests/test_semantic_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.dedup.embedding import dot, with_normed
from spider_spark.similarity.ivf import N_LISTS, _assign_df, train_centroids

# the paper uses ~0.95 on real encoder embeddings; the synthetic
# embedding table's near-dup signal lives at ~0.35-0.5 cosine (same
# calibration as dedup/embedding.py's COSINE_THRESHOLD), so the default
# matches the corpus the tests run on
SEM_THRESHOLD = 0.35


def semantic_removals(emb: DataFrame, n_lists: int = N_LISTS) -> DataFrame:
    """(vec_id, list_id, removed) for every vector: removed iff an
    earlier same-cluster vector has cosine ≥ SEM_THRESHOLD."""
    cents = train_centroids(emb, n_lists)
    assigned = (
        with_normed(emb)
        .select("vec_id", "_v", "_norm")
        .join(_assign_df(emb, cents, n_probe=1), "vec_id")
    )
    a = assigned.select(
        "list_id", F.col("vec_id").alias("id_a"), F.col("_v").alias("va"),
        F.col("_norm").alias("na"),
    )
    b = assigned.select(
        "list_id", F.col("vec_id").alias("id_b"), F.col("_v").alias("vb"),
        F.col("_norm").alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    removed = (
        a.join(b, "list_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cos, 6) >= SEM_THRESHOLD)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("removed", F.lit(True))
    )
    return (
        assigned.select("vec_id", "list_id")
        .join(removed, "vec_id", "left")
        .select(
            "vec_id",
            F.col("list_id").cast("long").alias("list_id"),
            F.coalesce("removed", F.lit(False)).alias("removed"),
        )
    )


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup profile: (list_id, n_vecs, n_removed,
    kept_rate)."""
    flags = semantic_removals(Catalog(spark, sf_dir).embeddings)
    return flags.groupBy("list_id").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum(F.when(F.col("removed"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.round(
            F.lit(1.0)
            - F.sum(F.when(F.col("removed"), 1).otherwise(0)) / F.count("*"),
            4,
        ).alias("kept_rate"),
    )
