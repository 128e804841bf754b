"""Sparse count-vector cosine similarity join (term-keyed, exact).

The sparse complement to the dense-embedding ANN stack: document
similarity computed directly from term counts through an inverted
index, the shape a plagiarism / template-detection pass uses when no
embeddings exist. Candidate generation is keyed on the TERM (only doc
pairs sharing a term can have dot > 0), so the shuffle is
O(Σ_term df²) with the same df-cap as the Jaccard index — ubiquitous
terms are dropped, never exploded.

Numeric parity: dot products and squared norms are exact int64 sums;
the single division + sqrt happens once at the output edge, so Spark
and DuckDB compute bit-identical doubles (no float accumulation
order anywhere).

Terms appearing in more than MAX_DF documents are stopword-filtered
out of the vector space entirely — numerator AND denominator, mirrored
in the oracle. Ubiquitous terms carry no discriminative signal and
their postings are the quadratic shuffle hazard; filtering only the
posting side (the old behavior: the df-cap dropped them from the dot
while the norms kept them) deflated every cosine once the cap started
binding — at sf0.1 it silently emptied the result set (caught by the
sf0.1 oracle sweep; at driver scale no term exceeds MAX_DF, so outputs
there are unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.dedup.jaccard import MAX_POSTING_LEN, pair_explode

COSINE_THRESHOLD = 0.9
MAX_DF = MAX_POSTING_LEN  # ubiquitous-term cutoff == the posting cap


def sparse_cosine_pairs(
    docs: DataFrame,
    threshold: float = COSINE_THRESHOLD,
) -> DataFrame:
    """(doc_id_1 < doc_id_2, cos) for count-vector cosine ≥ threshold.

    Plan: tokenize+explode -> (doc, term) counts [shuffle 1] -> per-doc
    squared norm via a window on doc_id [shuffle 2, rides with the
    postings as a payload field — the pairs relation never re-joins a
    per-doc table] -> term-keyed combination explode [shuffle 3] ->
    pair aggregation. Never O(n²).
    """
    tf = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
        )
        .filter(F.col("t") != "")
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
    )
    # stopword-filter ubiquitous terms BEFORE the norms (module note):
    # a partitioned count window on the term — same shuffle key the
    # posting build needs anyway
    df_t = F.count("*").over(Window.partitionBy("t"))
    tf = tf.withColumn("_df", df_t).filter(F.col("_df") <= MAX_DF).drop("_df")
    s2 = F.sum(F.col("c") * F.col("c")).over(Window.partitionBy("doc_id"))
    postings = tf.select("doc_id", "t", "c", s2.alias("s2"))
    cand = pair_explode(
        postings.groupBy("t").agg(
            F.collect_list(F.struct("doc_id", "c", "s2")).alias("ids")
        ),
        id_field="doc_id",
        payload_fields=("c", "s2"),
        cap=MAX_DF,
    )
    agg = cand.groupBy("doc_id_1", "doc_id_2").agg(
        F.sum(F.col("c_1") * F.col("c_2")).alias("dot"),
        F.first("s2_1").alias("s2_1"),
        F.first("s2_2").alias("s2_2"),
    )
    cos = F.col("dot") / F.sqrt((F.col("s2_1") * F.col("s2_2")).cast("double"))
    return (
        agg.filter(cos >= threshold)
        .select("doc_id_1", "doc_id_2", F.round(cos, 4).alias("cos"))
    )


def sparse_cosine_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries() wrapper over the documents table."""
    return sparse_cosine_pairs(Catalog(spark, sf_dir).documents)
