"""Corpus statistics: TF-IDF, n-gram frequencies, inverted index.

All JVM-side; the TF-IDF arithmetic (tf · ln(N/df)) is mirrored exactly
in the DuckDB oracle — both engines evaluate the same double ops."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spider_spark.catalog import Catalog
from spider_spark.text.analysis import tokens


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Scale shape: one explode + two aggregations; df(word) is a tiny
    table (vocabulary-sized) joined back via broadcast. N (corpus size)
    is a 1-row broadcast, not a driver-side collect."""
    docs = Catalog(spark, sf_dir).documents
    tf = (
        docs.select("doc_id", F.explode(tokens()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        tf.join(F.broadcast(df_), "word")
        .join(F.broadcast(n))
        .withColumn("tfidf", score)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "tf", "df", "tfidf", "rnk")
    )


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide word-bigram top-20 (count desc, bigram asc)."""
    docs = Catalog(spark, sf_dir).documents
    toks = tokens()
    # zip_with over two shifted slices (one pass) — slice-inside-
    # transform re-slices the array per element, ~3x slower at sf0.1
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full inverted index summary: per word, document frequency, total
    occurrences, and the posting-list extremes. (The posting lists
    themselves are the (word, doc_id) table one step earlier — this is
    the verifiable fixed-width projection of them.)"""
    docs = Catalog(spark, sf_dir).documents
    postings = docs.select("doc_id", F.explode(tokens()).alias("word"))
    return postings.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("total_occurrences"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# fixed query terms drawn from the synthetic vocabulary so scores are
# non-trivial at test scale; a real search swaps the literal list
BM25_QUERY = ("spark", "stream", "hash")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 15


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-BM25_TOP retrieval for a fixed conjunctive query
    (Robertson & Zaragoza; the Lucene idf variant). Postings for the
    query terms only reach the scoring join — the term filter lands on
    the exploded stream BEFORE any shuffle, so the aggregation is
    O(matching postings), and the corpus stats (N, avgdl) ride as a
    1-row broadcast.
    """
    docs = Catalog(spark, sf_dir).documents.filter(F.col("text").isNotNull())
    toks = F.split(F.trim("text"), r"\s+")
    lens = docs.select("doc_id", F.size(toks).cast("double").alias("dl"))
    postings = docs.select("doc_id", F.explode(toks).alias("word")).filter(
        F.col("word").isin(*BM25_QUERY)
    )
    tf = postings.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    stats = lens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_norm), 4).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP)
