"""Vector-column utilities: per-label centroids with cohesion metrics,
and int8 scalar quantization with reconstruction-error accounting.

Both use the exploded (id, dim, value) layout — the standard way to do
vector math relationally at scale: every aggregation is keyed on
(label, dim) or (vec_id), shuffles are bounded by rows × dims, and all
arithmetic stays in JVM whole-stage codegen (no Python).

Float discipline for oracle parity: element extraction, products and
single divisions are bit-exact across engines (IEEE ops on identical
inputs); only multi-term sums differ in association order, so every
summed quantity is rounded at 4–6 dp and quantization uses floor on
deterministically-computed doubles, never round-half.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog

def _exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).embeddings
    # v widened to double IMMEDIATELY: Spark's '/' promotes to double
    # while DuckDB keeps float32 through * and /, so mixed-precision
    # intermediates would diverge; with both engines in double, every
    # single IEEE op is bit-identical
    return emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("dim", "v"),
    ).withColumn("v", F.col("v").cast("double"))


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + cluster cohesion: centroid L2 norm and the
    mean/min cosine of members to their centroid. Two keyed aggregations
    plus one (label, dim) join — at scale the join is shuffle-bounded by
    rows × dims and the centroid side is tiny (labels × dims)."""
    e = _exploded(spark, sf_dir)
    cent = e.groupBy("label", "dim").agg(F.avg("v").alias("c"))
    j = e.join(cent, ["label", "dim"])
    pv = j.groupBy("vec_id", "label").agg(
        F.sum(F.col("v") * F.col("c")).alias("dot"),
        F.sum(F.col("v") * F.col("v")).alias("nv"),
        F.sum(F.col("c") * F.col("c")).alias("nc"),
    )
    cos = F.col("dot") / F.sqrt(F.col("nv") * F.col("nc"))
    cnorm = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("cn"))
    return (
        pv.select("vec_id", "label", cos.alias("cos"))
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.round(F.avg("cos"), 4).alias("avg_cos_to_centroid"),
            F.round(F.min("cos"), 4).alias("min_cos_to_centroid"),
        )
        .join(F.broadcast(cnorm), "label")
        .select(
            "label",
            "n_vecs",
            F.round("cn", 4).alias("centroid_norm"),
            "avg_cos_to_centroid",
            "min_cos_to_centroid",
        )
    )


def vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization against global per-dim min/max (the
    compression step an embedding store applies before ANN): code =
    floor((v-mn)·255/(mx-mn)) clamped to [0,255], dequant = bucket
    midpoint. Reports per-label reconstruction error and code-range
    sanity. The per-dim range table is labels-independent, O(dims), and
    broadcast — the vector side never shuffles for it."""
    e = _exploded(spark, sf_dir)
    rng = e.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    j = e.join(F.broadcast(rng), "dim")
    code = F.least(
        F.lit(255),
        F.floor((F.col("v") - F.col("mn")) * 255 / (F.col("mx") - F.col("mn"))),
    ).cast("long")
    q = j.select(
        "vec_id",
        "label",
        "v",
        code.alias("code"),
        (F.col("mn") + (code + 0.5) * (F.col("mx") - F.col("mn")) / 255).alias("dq"),
    )
    err = (F.col("v") - F.col("dq")) * (F.col("v") - F.col("dq"))
    return (
        q.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_values"),
            F.min("code").alias("min_code"),
            F.max("code").alias("max_code"),
            F.round(F.sqrt(F.avg(err)), 6).alias("rms_error"),
        )
    )
