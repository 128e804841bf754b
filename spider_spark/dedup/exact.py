"""Exact deduplication via content-hash group-by."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog


def exact_dedup(df: DataFrame) -> DataFrame:
    """Group by sha-256 of ``text``, keep the smallest ``doc_id`` as the
    representative. Shuffling the 32-byte digest instead of the document
    body keeps shuffle volume O(rows × 32B) regardless of doc size."""
    return (
        df.select(F.sha2(F.col("text"), 256).alias("_h"), "doc_id")
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies"))
        .drop("_h")
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper: exact-dedup the documents table."""
    return exact_dedup(Catalog(spark, sf_dir).documents)
